"""NyOn legal-ontology schema system.

Parses an OWL 2 Turtle ontology once at driver startup into small in-memory
tables that every downstream stage broadcasts.  The default is the packaged
subset ``nyon_subset.ttl`` (its header lists where each row comes from);
``load_ontology(path)`` loads the reference's full ``legalOntology.owl``.
This replaces the reference's Neo4j/neosemantics round-trips:

- allowed relationships (is_a rows + object-property domain/rel/range rows)
  mirror ``kg_creator/src/utils.py:38-60`` (``getAllRelationships``);
- datatype-property schema mirrors ``utils.py:63-74`` (``get_all_properties``);
- direct subclass edges mirror ``utils.py:77-86`` (``get_subclasses``);
- the per-class full ancestor chain + inherited property schema mirrors the
  recursive walk in ``utils.py:507-524`` (``merged_node_with_label_and_prop``),
  precomputed here as a transitive closure (the reference recomputes it per
  triple per chunk with one Cypher round-trip per level);
- the two validation decisions — domain/range through the ancestor-chain
  cross product (``some_func_v2``, utils.py:541-569) and is_a keep/swap/drop
  (utils.py:260-290) — are resolved here once per instance into
  ``Ontology.resolution_table`` and ``Ontology.isa_table``.

Divergence note (documented deliberately): the reference's recursive walk can
truncate the ancestor chain of interior classes depending on unspecified
Cypher row order (``utils.py:516-520`` returns early when the visited class
has children).  We always use the full ancestor chain — a stable superset.

Everything is tiny (<200 rows per table) -> plain Python dicts; validation
ships the two resolution tables as broadcast-join frames.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass
from functools import cached_property, lru_cache
from importlib import resources
from typing import Dict, FrozenSet, List, Set, Tuple

_SUBSET_FILE = "nyon_subset.ttl"
DEFAULT_OWL_PATH = os.path.join(os.path.dirname(__file__), _SUBSET_FILE)
# BFS rounds subclass_closure_frame runs before it stops: the longest
# subclass chain it can close
CLOSURE_MAX_DEPTH = 16

# ---------------------------------------------------------------------------
# Turtle micro-parser (only what the NyOn file needs: prefixed names, IRIs,
# strings, blank-node brackets, collections).
# ---------------------------------------------------------------------------


def _strip_comments(text: str) -> str:
    out = []
    for line in text.splitlines():
        stripped = line.lstrip()
        if stripped.startswith("#") and not stripped.startswith("#>"):
            continue
        out.append(line)
    return "\n".join(out)


def _split_statements(text: str) -> List[str]:
    """Split Turtle text into top-level statements ending with '.'.

    String-literal and bracket aware; good enough for the NyOn file.
    """
    statements: List[str] = []
    buf: List[str] = []
    depth = 0
    in_str = False
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if in_str:
            buf.append(ch)
            if ch == "\\":
                if i + 1 < n:
                    buf.append(text[i + 1])
                    i += 2
                    continue
            elif ch == '"':
                in_str = False
            i += 1
            continue
        if ch == '"':
            in_str = True
            buf.append(ch)
        elif ch in "[(":
            depth += 1
            buf.append(ch)
        elif ch in "])":
            depth -= 1
            buf.append(ch)
        elif ch == "." and depth == 0:
            # statement terminator must follow whitespace and precede
            # whitespace/EOF (avoid decimals like "2.0" and IRIs).
            prev_ws = i > 0 and text[i - 1] in " \t\n\r"
            next_ws = i + 1 >= n or text[i + 1] in " \t\n\r"
            if prev_ws and next_ws:
                stmt = "".join(buf).strip()
                if stmt:
                    statements.append(stmt)
                buf = []
            else:
                buf.append(ch)
        else:
            buf.append(ch)
        i += 1
    tail = "".join(buf).strip()
    if tail:
        statements.append(tail)
    return statements


_TOKEN_RE = re.compile(
    r"""
    "(?:[^"\\]|\\.)*"(?:@[\w-]+|\^\^\S+)?   # string literal (+lang/datatype)
  | <[^>]*>                                 # IRI
  | [\w:#/\.\-()']+                         # prefixed name / number / bare
  | [;,\[\]()]                              # punctuation
    """,
    re.VERBOSE,
)


def _tokenize(stmt: str) -> List[str]:
    return _TOKEN_RE.findall(stmt)


def local_name(token: str) -> str:
    """IRI or prefixed name -> bare local name (n10s-style), e.g.
    ``nyon:Judge`` -> ``Judge``, ``<...nif-core#Paragraph>`` -> ``Paragraph``,
    ``<https://schema.org/Organization>`` -> ``Organization``.
    """
    t = token.strip()
    if t.startswith("<") and t.endswith(">"):
        t = t[1:-1]
    if "#" in t:
        return t.rsplit("#", 1)[1]
    if "/" in t and t.startswith("http"):
        return t.rstrip("/").rsplit("/", 1)[1]
    if ":" in t:
        return t.rsplit(":", 1)[1]
    return t


def _parse_predicate_objects(tokens: List[str]) -> List[Tuple[str, List[str]]]:
    """Parse ``pred obj(, obj)* (; pred obj...)*`` token stream into
    (predicate, [object-token-groups]) where a blank-node/collection object is
    kept as a sublist flattened to its inner tokens wrapped in '[' ... ']'.
    """
    result: List[Tuple[str, List[str]]] = []
    i = 0
    while i < len(tokens):
        pred = tokens[i]
        i += 1
        objs: List[str] = []
        while i < len(tokens):
            tok = tokens[i]
            if tok == ";":
                i += 1
                break
            if tok == ",":
                i += 1
                continue
            if tok in "[(":
                # capture bracket group verbatim
                depth = 1
                group = [tok]
                i += 1
                while i < len(tokens) and depth:
                    if tokens[i] in "[(":
                        depth += 1
                    elif tokens[i] in "])":
                        depth -= 1
                    group.append(tokens[i])
                    i += 1
                objs.append(" ".join(group))
                continue
            objs.append(tok)
            i += 1
        if objs:
            result.append((pred, objs))
    return result


def _named_objects(objs: List[str]) -> List[str]:
    """Named (non-blank-node, non-literal) objects -> local names."""
    names = []
    for o in objs:
        if o.startswith("[") or o.startswith('"') or o.startswith("("):
            continue
        names.append(local_name(o))
    return names


def _union_members(obj_group: str) -> List[str]:
    """Extract owl:unionOf members from a blank-node object group."""
    m = re.search(r"owl:unionOf \( (.*?) \)", obj_group)
    if not m:
        return []
    return [local_name(t) for t in m.group(1).split() if not t.startswith('"')]


# ---------------------------------------------------------------------------
# Ontology model
# ---------------------------------------------------------------------------


# One row of the resolution table: the first valid (label1, label2) of the
# ancestor-chain walk, then each end's label chain and property-schema keys.
Resolution = Tuple[str, str, Tuple[str, ...], Tuple[str, ...],
                   Tuple[str, ...], Tuple[str, ...]]


@dataclass(frozen=True)
class Ontology:
    """Immutable parsed ontology, and the one owner of ontology resolution:
    :attr:`resolution_table` (domain/range through the ancestor chains) and
    :attr:`isa_table` (is_a keep/swap) are built here once per instance;
    validation only joins them."""

    classes: FrozenSet[str]
    subclass_edges: Tuple[Tuple[str, str], ...]      # (child, parent), direct
    object_props: Tuple[Tuple[str, str, str], ...]   # (domain, rel, range)
    datatype_props: Tuple[Tuple[str, str, str], ...]  # (domain, prop, dtype)

    # ---- derived lookups (computed once in __post_init__) -----------------
    def __post_init__(self):
        parents: Dict[str, List[str]] = {}
        for c, p in self.subclass_edges:
            parents.setdefault(c, []).append(p)
        props_by_domain: Dict[str, List[str]] = {}
        for d, p, _t in self.datatype_props:
            props_by_domain.setdefault(d, []).append(p)
        for name, value in (
            ("_parents", parents),
            ("_props_by_domain", props_by_domain),
            ("_direct_edge_set", frozenset(self.subclass_edges)),
            ("_valid_rel_set", frozenset(self.object_props)),
            ("_ancestor_cache", {}),  # per-class memo of _ancestors
        ):
            object.__setattr__(self, name, value)

    # ---- reference-parity API ---------------------------------------------

    def is_direct_subclass(self, child: str, parent: str) -> bool:
        """Mirror of the per-pair check in ``refine_parent_child_relation``
        (utils.py:274-287): direct SCO edge only, no transitivity."""
        return (child, parent) in self._direct_edge_set

    def _ancestors(self, cls: str) -> Tuple[Tuple[str, int], ...]:
        """(class, depth) for cls and every ancestor: one BFS from cls over
        the direct parent edges, self first at depth 0, each ancestor once at
        its shortest depth.  The walk behind label_chain and
        subclass_closure."""
        cached = self._ancestor_cache.get(cls)
        if cached is None:
            out = [(cls, 0)]
            seen = {cls}
            for c, depth in out:  # grows while iterated: a FIFO queue
                for p in self._parents.get(c, []):
                    if p not in seen:
                        seen.add(p)
                        out.append((p, depth + 1))
            cached = self._ancestor_cache[cls] = tuple(out)
        return cached

    def label_chain(self, cls: str) -> List[str]:
        """[cls] + all ancestors, BFS order, deduped — the node label list
        (``merged_node_with_label_and_prop``, utils.py:507-524).
        Unknown class -> [cls] alone (reference behaves the same: no Cypher
        match -> just the node itself)."""
        return [c for c, _ in self._ancestors(cls)]

    def prop_schema(self, cls: str) -> Dict[str, str]:
        """Union of datatype-property names along the ancestor chain, each
        mapped to "" — the empty property bag the reference builds at
        utils.py:513-515 and feeds to property assignment."""
        schema: Dict[str, str] = {}
        for label in self.label_chain(cls):
            schema.update(
                dict.fromkeys(self._props_by_domain.get(label, []), "")
            )
        return schema

    def valid_relationship(self, label1: str, rel: str, label2: str) -> bool:
        """Exact (domain, rel, range) row check (utils.py:243-257)."""
        return (label1, rel, label2) in self._valid_rel_set

    def resolve_relationship(
        self, type1: str, rel: str, type2: str
    ) -> Tuple[str, str] | None:
        """Try the ancestor-chain cross product like ``some_func_v2``
        (utils.py:554-560); return the first (label1, label2) pair for which
        (label1, rel, label2) is a valid domain/range row, else None.
        Chain order = self-first BFS, so the most specific pair wins."""
        chain2 = self.label_chain(type2)
        for l1 in self.label_chain(type1):
            for l2 in chain2:
                if self.valid_relationship(l1, rel, l2):
                    return (l1, l2)
        return None

    @cached_property
    def resolution_table(self) -> Dict[Tuple[str, str, str], Resolution]:
        """(type1, rel, type2) -> :data:`Resolution` for every pair of
        classes and every object-property name that resolves; a triple
        with no entry has no valid domain/range.  Built once per instance
        and shared by every caller: read it, never mutate it."""
        rels = sorted({r for _, r, _ in self.object_props})
        ends = {
            c: (tuple(self.label_chain(c)), tuple(self.prop_schema(c)))
            for c in sorted(self.classes)
        }
        table: Dict[Tuple[str, str, str], Resolution] = {}
        for t1 in ends:
            for t2 in ends:
                for rel in rels:
                    pair = self.resolve_relationship(t1, rel, t2)
                    if pair is not None:
                        table[(t1, rel, t2)] = pair + ends[t1] + ends[t2]
        return table

    @cached_property
    def isa_table(self) -> Dict[Tuple[str, str], bool]:
        """(node1_type, node2_type) -> swapped for every is_a triple that
        survives (utils.py:274-287): a direct subclass edge is kept (False),
        a reversed one is swapped (True).  On a 2-cycle the direct edge
        wins; a pair with no entry is dropped.  Built once per instance
        and shared, like :attr:`resolution_table`."""
        table: Dict[Tuple[str, str], bool] = {}
        for child, parent in self.subclass_edges:
            table[(child, parent)] = False
            if not self.is_direct_subclass(parent, child):
                table[(parent, child)] = True
        return table

    def subclass_closure(self) -> List[Tuple[str, str, int]]:
        """(descendant, ancestor, depth) transitive closure rows, depth =
        shortest path."""
        return [
            (cls, anc, depth)
            for cls in sorted(self.classes)
            for anc, depth in self._ancestors(cls)[1:]
        ]

    # ---- Spark integration -------------------------------------------------

    def subclass_closure_frame(self, spark):
        """(descendant, ancestor, depth) computed ENGINE-SIDE: iterative
        BFS joins over the direct-edge DataFrame (depth = shortest path;
        pairs reached earlier are anti-joined away, so multi-path DAG
        ancestors keep their minimum depth).  The Python
        :meth:`subclass_closure` stays the spec (pytest pins equality and
        the ``onto_closure`` driver query pins it against a recursive-CTE
        oracle); this is the shape a table-resident ontology (thousands of
        classes, n10s-style) would use — log-depth rounds of bounded
        joins, no driver-side graph walk."""
        from pyspark.sql import functions as F

        edges = spark.createDataFrame(
            list(self.subclass_edges), "child string, parent string"
        )
        closure = edges.select(
            F.col("child").alias("descendant"),
            F.col("parent").alias("ancestor"),
            F.lit(1).alias("depth"),
        ).localCheckpoint()
        frontier = closure
        for d in range(2, CLOSURE_MAX_DEPTH + 1):
            nxt = (
                frontier.join(
                    edges, frontier["ancestor"] == edges["child"]
                )
                .select(
                    "descendant",
                    edges["parent"].alias("ancestor"),
                    F.lit(d).alias("depth"),
                )
                .distinct()
                .join(
                    closure.select("descendant", "ancestor"),
                    ["descendant", "ancestor"],
                    "left_anti",
                )
                .localCheckpoint()
            )
            if not nxt.take(1):
                break
            closure = closure.unionByName(nxt).localCheckpoint()
            frontier = nxt
        return closure


def parse_owl(path: str) -> Ontology:
    """Parse a NyOn Turtle file into an :class:`Ontology`."""
    if path == DEFAULT_OWL_PATH:
        # read as package data: open() cannot reach into the --py-files
        # zip a spark-submit driver imports the package from
        return parse_owl_text(
            resources.files(__package__).joinpath(_SUBSET_FILE).read_text("utf-8")
        )
    with open(path, "r", encoding="utf-8") as fh:
        text = fh.read()
    return parse_owl_text(text)


def parse_owl_text(text: str) -> Ontology:
    text = _strip_comments(text)
    classes: Set[str] = set()
    subclass_edges: List[Tuple[str, str]] = []
    object_props: List[Tuple[str, str, str]] = []
    datatype_props: List[Tuple[str, str, str]] = []

    for stmt in _split_statements(text):
        tokens = _tokenize(stmt)
        if len(tokens) < 3:
            continue
        subject = tokens[0]
        if subject.startswith("@") or subject in "[(":
            continue
        po = _parse_predicate_objects(tokens[1:])
        types: Set[str] = set()
        for pred, objs in po:
            if pred in ("rdf:type", "a"):
                types.update(_named_objects(objs))
        name = local_name(subject)

        if "Class" in types and not subject.startswith("_:"):
            if name in ("Ontology", "Vocabulary"):
                continue
            classes.add(name)
            for pred, objs in po:
                if pred == "rdfs:subClassOf":
                    for parent in _named_objects(objs):
                        if (name, parent) not in subclass_edges:
                            subclass_edges.append((name, parent))

        if "ObjectProperty" in types:
            domains: List[str] = []
            ranges: List[str] = []
            for pred, objs in po:
                if pred == "rdfs:domain":
                    domains.extend(_named_objects(objs))
                    for o in objs:
                        domains.extend(_union_members(o))
                elif pred == "rdfs:range":
                    ranges.extend(_named_objects(objs))
                    for o in objs:
                        ranges.extend(_union_members(o))
            for d in domains:
                for r in ranges:
                    row = (d, name, r)
                    if row not in object_props:
                        object_props.append(row)

        if "DatatypeProperty" in types:
            domains = []
            dtypes: List[str] = []
            for pred, objs in po:
                if pred == "rdfs:domain":
                    domains.extend(_named_objects(objs))
                    for o in objs:
                        domains.extend(_union_members(o))
                elif pred == "rdfs:range":
                    dtypes.extend(_named_objects(objs))
            dtype = dtypes[0] if dtypes else "string"
            for d in domains:
                row = (d, name, dtype)
                if row not in datatype_props:
                    datatype_props.append(row)

    return Ontology(
        classes=frozenset(classes),
        subclass_edges=tuple(subclass_edges),
        object_props=tuple(object_props),
        datatype_props=tuple(datatype_props),
    )


@lru_cache(maxsize=4)
def load_ontology(path: str = DEFAULT_OWL_PATH) -> Ontology:
    """Cached parse — call freely from pipeline stages and tests."""
    return parse_owl(path)
