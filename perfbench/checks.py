"""Correctness checks run inside every benchmark command.

Each check returns ``(ok, detail)``; the caller counts a failed check as a
failed operation and exits nonzero.  Stored tables are read with pyarrow,
not Spark, so checking adds no jobs to the session being measured.
"""

from __future__ import annotations

import hashlib
import os

import pyarrow.dataset as ds

NODE_KEY = ("node_key",)
EDGE_KEY = ("src_key", "relationship", "dst_key", "url")


def _table(graph_path: str, table: str, cols):
    """Columns of one stored table (hive partition columns such as
    ``relationship`` are read back from the directory names)."""
    return ds.dataset(
        os.path.join(graph_path, table), format="parquet", partitioning="hive"
    ).to_table(columns=list(cols))


def key_rows(graph_path: str, table: str, cols) -> list:
    """Sorted key tuples of one stored table."""
    t = _table(graph_path, table, cols)
    return sorted(zip(*(t.column(c).cast("string").to_pylist() for c in cols)))


def fingerprint(graph_path: str) -> dict:
    """Node count, edge count and md5 over the ordered node-key and edge-key
    sets of the stored graph at ``graph_path``."""
    nodes = key_rows(graph_path, "nodes", NODE_KEY)
    edges = key_rows(graph_path, "edges", EDGE_KEY)
    h = hashlib.md5()
    for tag, rows in (("n", nodes), ("e", edges)):
        for r in rows:
            h.update("\x1f".join((tag,) + r).encode("utf-8") + b"\n")
    return {"nodes": len(nodes), "edges": len(edges), "md5": h.hexdigest()}


def _canon(props) -> str:
    """A property bag as the engine's P/R comparator keys it
    (``pipeline._canon_key``): non-empty ``k=v`` entries, sorted."""
    items = props.items() if isinstance(props, dict) else props
    return "\x1f".join(sorted(f"{k}={v}" for k, v in items if v))


def _triple_key(s_label, s_props, pred, o_label, o_props) -> str:
    return "\x00".join((s_label, _canon(s_props), pred, o_label, _canon(o_props)))


def stored_triples(graph_path: str) -> set:
    """Canonical keys of the stored graph's triples: every edge joined to
    its two nodes, as ``linking.triple_set`` forms them."""
    t = _table(graph_path, "nodes", ("node_key", "head_label", "props"))
    node = {k: (label, props) for k, label, props in zip(
        *(t.column(c).to_pylist() for c in ("node_key", "head_label", "props")))}
    t = _table(graph_path, "edges", ("src_key", "relationship", "dst_key"))
    return {
        _triple_key(*node[s], r, *node[d])
        for s, r, d in zip(*(t.column(c).to_pylist()
                             for c in ("src_key", "relationship", "dst_key")))
        if s in node and d in node
    }


def precision_recall(graph_path: str, first: int, n_pages: int) -> tuple[bool, dict]:
    """P/R of the stored graph's triples against the fixture ground truth of
    pages ``first ..``; both must be exactly 1.0.  It checks what was
    written, and runs no Spark job."""
    from .inputs import expected_triples

    actual = stored_triples(graph_path)
    expected = {
        _triple_key(t["subj_label"], t["subj_props"], t["pred"],
                    t["obj_label"], t["obj_props"])
        for t in expected_triples(first, n_pages)
    }
    matched = len(actual & expected)
    pr = {
        "precision": matched / len(actual) if actual else 0.0,
        "recall": matched / len(expected) if expected else 0.0,
        "actual": len(actual), "expected": len(expected), "matched": matched,
    }
    ok = pr["precision"] == 1.0 and pr["recall"] == 1.0
    return ok, {"pages": n_pages, **pr}


def skew_partition(graph_path: str, first: int, n: int) -> tuple[bool, dict]:
    """After the reconcile, the skew graph's node indices must be grouped
    exactly as the generator planted them (:func:`inputs.skew_class`):
    every planted alias pair and every group of equal identities is one
    node, and every other node (hot with a unique token, or cold) stays its
    own.  A node's group is the source key its stored ``follows``
    edge (triple id ``s<i>``) was rewired to, and the node table must hold
    one row per group.  This catches over-merging as well as missed merges.
    The graph was built from node indices ``first .. first + n - 1``."""
    from .inputs import skew_class

    t = _table(graph_path, "edges", ("triple_id", "src_key"))
    src = dict(zip(t.column("triple_id").to_pylist(), t.column("src_key").to_pylist()))
    expected: dict = {}
    observed: dict = {}
    for i in range(first, first + n):
        expected.setdefault(skew_class(i, n), set()).add(i)
        observed.setdefault(src.get(f"s{i}"), set()).add(i)
    want = {frozenset(g) for g in expected.values()}
    got = {frozenset(g) for k, g in observed.items() if k is not None}
    n_nodes = len(key_rows(graph_path, "nodes", NODE_KEY))
    missing = len(observed.get(None, ()))
    ok = got == want and missing == 0 and n_nodes == len(want)
    pairs = sum(1 for g in want if len(g) == 2)
    return ok, {
        "groups_expected": len(want), "groups_found": len(got),
        "groups_wrong": len(want - got), "node_rows": n_nodes,
        "indices_without_edge": missing, "planted_pairs": pairs,
    }
