"""Code hygiene: every function, method and class the package defines has a
caller outside ``tests/``.  A helper only tests reach is either dead or a
test-only twin of production code; delete it with its tests, or name it
in ALLOWED with the reason it stays.  Likewise every defaulted parameter
is passed by some non-test call (else it is a constant) and left out by
another (else it is a constant or required), and every environment
variable the package reads is set by one.  Every package call perfbench
makes binds to today's signature.

Non-test callers: the package itself, ``__spark_entry__.py``,
``main_kg.py``, ``bench*.py``, ``scripts/`` and ``perfbench/``.  A
reference to a function or class is any name, attribute or import of the
identifier (outside its own ``def``); a method (a ``def`` in a class body,
keyed ``Class.method``) is reached only through an attribute access
(``x.method``), so a local variable of the same name does not count.  The
scan stays conservative: a method that shares its name with another
attribute counts as referenced.

Rules from the project notes are checked here too: the partition
overwrite mode is set per write, the package draws no unseeded
randomness, counts ride writes rather than a count() beside them, and
the names the notes list as gone stay gone."""

import ast
import collections
import glob
import importlib
import inspect
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "ontologybasedkgcreation_spark"

ALLOWED = {
    # specs that tests compare the engine against
    "srp_band_cols": "the JVM SRP spec the fast mapInPandas stage is "
    "pinned bit-exact against",
    "Ontology.subclass_closure": "the Python closure spec "
    "subclass_closure_frame is pinned against",
    # library entry points: the public API a user calls, with no caller in
    # this repository's own jobs
    "CheckpointedPipeline": "the resumable mode BASELINE's north rule "
    "requires",
    "CheckpointedPipeline.run": "the resumable mode's whole-run entry "
    "point",
    "start_graph_maintenance": "streaming entry point (per-micro-batch "
    "graph merge)",
    "triple_precision_recall": "the fixture P/R gate's comparator",
    "hashing_feature_vectors": "the deterministic lexical embedder a "
    "refine_pairs_semantic caller plugs in (the linker's own refine "
    "computes the same vectors per pair, similarity.hashing_cosine)",
}


# defaulted parameters (``function.parameter``) that no non-test caller
# passes, each with the reason it stays a parameter rather than a constant
DEFAULTS_ALLOWED = {
    # deployment settings
    "load_ontology.path": "the full NyOn file's path (the default is the "
    "packaged subset)",
    "start_graph_maintenance.available_now": "the trigger: a bounded "
    "replay (availableNow) or an always-on stream",
    # reference paths that tests compare the fast path against
    "extract_pages.prefer_existing_text": "False re-derives text from html, "
    "the byte-identical html->text gate",
    "duplicate_spans.gram_hash": "'md5' is the full-gram reference the "
    "rolling hash is pinned bit-identical against",
    "srp_band_cols.bits": "the JVM SRP spec's signature width, set to the "
    "fast stage's",
    "srp_band_cols.band_bits": "the JVM SRP spec's band width, set to the "
    "fast stage's",
    "srp_band_cols.dim": "the JVM SRP spec's vector width, set to the "
    "fast stage's",
    # fault injection
    "run_assigned_stage.fail_after_buckets": "the crash hook the resume "
    "tests kill a run with",
    # test inputs that drive decoder branches
    "encode_jpeg.restart_interval": "writes RSTn markers, the decoder's "
    "restart branch",
    "encode_avi_mjpeg.subsampling": "writes 4:2:2/4:2:0 frames, the "
    "decoder's chroma upsampling branches",
    # serving contract
    "match_chain.label_scope": "'head' reads the head_label-partitioned "
    "node layout main_kg.py writes as a partition prune",
    "pages_df.non_en_every": "the fixture's Hindi share (0 = all English)",
}


# defaulted parameters (``function.parameter``) that every non-test call
# passes, each with the reason the default stays
DEFAULTS_UNUSED_ALLOWED = {
    "extract_triples.pre_gated": "perfbench passes it by keyword; the "
    "benchmark's calls change only with the benchmark",
    "validate_triples.cache": "perfbench passes it by keyword; the "
    "benchmark's calls change only with the benchmark",
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
    """Key -> files defining it, for every package function, method and
    class; a method is keyed ``Class.method``."""
    names = collections.defaultdict(list)
    for path in _py_files(f"{PKG}/**/*.py"):
        tree = _parse(path)
        owner = {
            id(item): node.name
            for node in ast.walk(tree)
            if isinstance(node, ast.ClassDef)
            for item in node.body
        }
        for node in ast.walk(tree):
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) and not node.name.startswith("__"):
                cls = owner.get(id(node))
                key = f"{cls}.{node.name}" if cls else node.name
                names[key].append(os.path.relpath(path, ROOT))
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
    """The ``_defined`` keys some non-test caller reaches: a method by an
    attribute access, a function or class by any name, attribute or
    import."""
    names, attrs = set(), set()
    for path in _callers():
        for node in ast.walk(_parse(path)):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                attrs.add(node.attr)
            elif isinstance(node, ast.alias):
                names.add(node.name.rsplit(".", 1)[-1])
    return {
        key
        for key in _defined()
        if key.rsplit(".", 1)[-1] in attrs
        or ("." not in key and key in names)
    }


def test_no_function_is_reached_only_from_tests():
    used = _referenced_outside_tests()
    orphans = {
        key: where
        for key, where in _defined().items()
        if key not in used and key not in ALLOWED
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


def _defaulted_params():
    """(function, parameter, position) for every defaulted parameter of a
    package function or method, constructors excluded.  The position
    counts the arguments a call passes (after ``self``/``cls``); it is
    None for a keyword-only parameter."""
    for path in _py_files(f"{PKG}/**/*.py"):
        for node in ast.walk(_parse(path)):
            if (
                not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                or node.name == "__init__"
            ):
                continue
            a = node.args
            pos = a.posonlyargs + a.args
            bound = 1 if pos and pos[0].arg in ("self", "cls") else 0
            for i in range(len(pos) - len(a.defaults), len(pos)):
                yield node.name, pos[i].arg, i - bound
            for arg, default in zip(a.kwonlyargs, a.kw_defaults):
                if default is not None:
                    yield node.name, arg.arg, None


def _calls_outside_tests():
    """Callee name -> one (positional argument count, keywords, whether it
    spreads ``*args``/``**kwargs``) triple per non-test call."""
    calls = collections.defaultdict(list)
    for path in _callers():
        for node in ast.walk(_parse(path)):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name is None:
                continue
            calls[name].append((
                len(node.args),
                frozenset(k.arg for k in node.keywords if k.arg),
                any(isinstance(x, ast.Starred) for x in node.args)
                or any(k.arg is None for k in node.keywords),
            ))
    return calls


def _passes(call, param, pos):
    """Whether a call passes the parameter: by position or keyword."""
    npos, kws, _ = call
    return param in kws or (pos is not None and npos > pos)


def test_defaults_are_set_outside_tests():
    """Every defaulted parameter of a package function or method is passed
    by a non-test caller (by position, by keyword or through a spread), or
    is in DEFAULTS_ALLOWED.  A value only tests vary is a test-only fork:
    make it a module constant and let tests monkeypatch it."""
    calls = _calls_outside_tests()
    unset = {
        f"{fn}.{param}"
        for fn, param, pos in _defaulted_params()
        if not any(c[2] or _passes(c, param, pos) for c in calls[fn])
    }
    assert not unset - set(DEFAULTS_ALLOWED), (
        "defaulted but never passed outside tests/: "
        f"{sorted(unset - set(DEFAULTS_ALLOWED))}"
    )
    stale = set(DEFAULTS_ALLOWED) - unset
    assert not stale, f"DEFAULTS_ALLOWED entries now passed or gone: {stale}"


def test_defaults_are_used_outside_tests():
    """Every defaulted parameter of a package function or method is left
    out by some non-test call (or a call spreads its arguments), or is in
    DEFAULTS_UNUSED_ALLOWED.  A default every production caller overrides
    is reached only by tests: with one production value the parameter is
    a constant, with several it is required.  A function no non-test call
    reaches is left to ALLOWED and DEFAULTS_ALLOWED."""
    calls = _calls_outside_tests()
    unused = {
        f"{fn}.{param}"
        for fn, param, pos in _defaulted_params()
        if calls.get(fn)
        and not any(c[2] or not _passes(c, param, pos) for c in calls[fn])
    }
    assert not unused - set(DEFAULTS_UNUSED_ALLOWED), (
        "defaulted but passed by every call outside tests/: "
        f"{sorted(unused - set(DEFAULTS_UNUSED_ALLOWED))}"
    )
    stale = set(DEFAULTS_UNUSED_ALLOWED) - unused
    assert not stale, (
        f"DEFAULTS_UNUSED_ALLOWED entries now left out or gone: {stale}"
    )


def _dotted(node):
    """``a.b.c`` for a Name/Attribute chain, else None."""
    parts = []
    while isinstance(node, ast.Attribute):
        parts.append(node.attr)
        node = node.value
    if not isinstance(node, ast.Name):
        return None
    return ".".join([node.id, *reversed(parts)])


def _resolve(dotted):
    """The object a dotted package path names: the longest importable
    module prefix, then attributes."""
    parts = dotted.split(".")
    for i in range(len(parts), 0, -1):
        try:
            obj = importlib.import_module(".".join(parts[:i]))
        except ImportError:
            continue
        for attr in parts[i:]:
            obj = getattr(obj, attr)
        return obj
    raise ImportError(dotted)


def _perfbench_calls():
    """(where, package path, call) for every call in ``perfbench/*.py``
    (its tests excluded) whose callee the file's imports name in the
    package: ``pipeline.run_pipeline(...)``, ``GraphWriter.write(...)``,
    ``get_spark(...)``.  Calls on instances are not resolvable and are
    skipped."""
    for path in _py_files("perfbench/*.py"):
        tree = _parse(path)
        bound = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and not node.level and (
                (node.module or "").split(".")[0] == PKG
            ):
                for a in node.names:
                    bound[a.asname or a.name] = f"{node.module}.{a.name}"
            elif isinstance(node, ast.Import):
                for a in node.names:
                    if a.name.split(".")[0] == PKG:
                        local = a.asname or PKG
                        bound[local] = a.name if a.asname else PKG
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            dotted = _dotted(node.func)
            head, _, rest = (dotted or "").partition(".")
            if head in bound:
                where = f"{os.path.relpath(path, ROOT)}:{node.lineno}"
                yield where, ".".join(filter(None, (bound[head], rest))), node


def test_perfbench_calls_bind():
    """Every package function or class perfbench calls accepts the call's
    positional count and keywords: the benchmark changes only with the
    benchmark, so a signature change that breaks it must fail here first.
    A call that spreads ``*args``/``**kwargs`` is bound partially."""
    bad, bound = [], set()
    for where, target, call in _perfbench_calls():
        fn = _resolve(target)
        if not callable(fn):
            continue
        spread = any(isinstance(a, ast.Starred) for a in call.args) or any(
            k.arg is None for k in call.keywords
        )
        args = [None] * len(call.args)
        kwargs = {k.arg: None for k in call.keywords if k.arg}
        sig = inspect.signature(fn)
        try:
            (sig.bind_partial if spread else sig.bind)(*args, **kwargs)
        except TypeError as e:
            bad.append(f"{where} {target}: {e}")
        bound.add(target.rsplit(".", 1)[-1])
    assert not bad, bad
    # the scan reaches the calls the benchmark's layers make
    assert {"run_pipeline", "extract_triples", "validate_triples"} <= bound


# names the package deleted and must not define or reference again
GONE = (
    "validate_triples_stream",
    "streaming_assigned_triples",
    "title_expr",
    "assign_props_expr",
    "assign_and_titlecase_expr",
    "parse_triples_json",
    "node_feature_vectors",
    "english_pages",
    "_ontology_frames",
    "resolution_rows",
    "_RESOLUTION_CACHE",
    "to_dataframes",
    "allowed_relationships",
    "direct_parents",
    "direct_children",
    "class_comments",
    "_children",
    "hash_token",
    "start_triples_sink",
    "REFINE_DIM",
)


def test_gone_names_stay_gone():
    """No package file defines or references a name in GONE (the "Gone (do
    not re-add)" lists of the project notes): a def, a class, an
    assignment, an attribute or a bare name all count."""
    hits = []
    for path in _py_files(f"{PKG}/**/*.py"):
        for node in ast.walk(_parse(path)):
            name = (
                getattr(node, "name", None)
                if isinstance(
                    node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                )
                else getattr(node, "id", None)
                if isinstance(node, ast.Name)
                else getattr(node, "attr", None)
                if isinstance(node, ast.Attribute)
                else getattr(node, "name", None)
                if isinstance(node, ast.alias)
                else None
            )
            if name in GONE:
                hits.append(f"{os.path.relpath(path, ROOT)}:{node.lineno} {name}")
    assert not hits, hits


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


def test_overwrite_mode_is_set_per_write():
    """``partitionOverwriteMode`` is set only as a per-write
    ``.option(...)``, never session-wide (``spark.conf.set`` or a builder
    ``.config``): a session-wide mode would change how every other
    partitioned write replaces its table."""
    sites = {}
    for path in _callers():
        tree = _parse(path)
        per_write = {
            id(node.args[0])
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and getattr(node.func, "attr", None) == "option"
            and node.args
        }
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and "partitionOverwriteMode" in node.value
            ):
                where = f"{os.path.relpath(path, ROOT)}:{node.lineno}"
                sites[where] = id(node) in per_write
    assert sites, "no write sets partitionOverwriteMode"
    session_wide = sorted(where for where, ok in sites.items() if not ok)
    assert not session_wide, session_wide


# calls that write a frame they are given (the DataFrame writer, the
# GraphWriter's table writes)
WRITE_CALLS = {"write", "merge", "_write_partitioned", "writeTo", "saveAsTable"}


def test_counts_ride_the_write():
    """Row counts of a written frame ride its write (``df.observe``), so
    no package function both calls ``x.count()`` and writes ``x`` — by
    ``x.write``/``x.writeTo`` or by passing it to a write call.  A
    count() beside the write runs the frame's whole plan a second time."""
    bad = []
    for path in _py_files(f"{PKG}/**/*.py"):
        for fn in ast.walk(_parse(path)):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            counted, written = set(), set()
            for node in ast.walk(fn):
                if isinstance(node, ast.Attribute) and isinstance(
                    node.value, ast.Name
                ):
                    if node.attr in ("write", "writeTo"):
                        written.add(node.value.id)
                if not isinstance(node, ast.Call):
                    continue
                f = node.func
                if (
                    isinstance(f, ast.Attribute)
                    and f.attr == "count"
                    and not node.args
                    and isinstance(f.value, ast.Name)
                ):
                    counted.add(f.value.id)
                if getattr(f, "attr", getattr(f, "id", None)) in WRITE_CALLS:
                    written |= {a.id for a in node.args if isinstance(a, ast.Name)}
            for name in sorted(counted & written):
                bad.append(f"{os.path.relpath(path, ROOT)}:{fn.name} {name}")
    assert not bad, bad


# calls whose result differs between runs of the same input
UNSEEDED_CALLS = {
    "uuid1", "uuid4", "uuid", "rand", "randn", "shuffle",
    "monotonically_increasing_id",
}
_UNSEEDED_SQL = re.compile(
    r"\b(?:" + "|".join(UNSEEDED_CALLS) + r")\s*\(", re.I
)


def test_no_unseeded_randomness():
    """Re-runs give byte-identical graphs, so the package draws no
    randomness that its input does not fix: no ``uuid``, ``rand``,
    ``randn``, ``shuffle`` or ``monotonically_increasing_id``, as a call
    or inside a SQL string, and ``random`` only as a seeded
    ``random.Random(seed)``."""
    bad = []
    for path in _py_files(f"{PKG}/**/*.py"):
        tree = _parse(path)
        docstrings = {
            id(node.value)
            for node in ast.walk(tree)
            if isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant)
        }
        seeded = {
            id(node.func)
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and getattr(node.func, "attr", None) == "Random"
            and len(node.args) == 1
            and not node.keywords
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                f = node.func
                hit = (getattr(f, "id", None) or getattr(f, "attr", None)) in (
                    UNSEEDED_CALLS
                )
            elif isinstance(node, ast.Import):
                hit = any(a.name == "uuid" for a in node.names)
            elif isinstance(node, ast.ImportFrom):
                hit = node.module in ("uuid", "random")
            elif isinstance(node, ast.Attribute):
                # any random.<name> but a seeded random.Random, and numpy's
                # global generator
                base = getattr(node.value, "id", None)
                hit = (base == "random" and id(node) not in seeded) or (
                    base in ("np", "numpy") and node.attr == "random"
                )
            elif isinstance(node, ast.Constant):
                hit = (
                    isinstance(node.value, str)
                    and id(node) not in docstrings
                    and _UNSEEDED_SQL.search(node.value) is not None
                )
            else:
                continue
            if hit:
                bad.append(f"{os.path.relpath(path, ROOT)}:{node.lineno}")
    assert not bad, bad
