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
  triple per chunk with one Cypher round-trip per level).

Divergence note (documented deliberately): the reference's recursive walk can
truncate the ancestor chain of interior classes depending on unspecified
Cypher row order (``utils.py:516-520`` returns early when the visited class
has children).  We always use the full ancestor chain — a stable superset.

Everything is tiny (<200 rows per table) -> plain Python dicts, broadcast by
Spark automatically when referenced from a pandas UDF, or exposed as
DataFrames for broadcast hash joins.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field
from functools import lru_cache
from importlib import resources
from typing import Dict, FrozenSet, List, Set, Tuple

_SUBSET_FILE = "nyon_subset.ttl"
DEFAULT_OWL_PATH = os.path.join(os.path.dirname(__file__), _SUBSET_FILE)

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


def _literal(objs: List[str]) -> str:
    for o in objs:
        if o.startswith('"'):
            body = o[1:]
            end = body.find('"')
            return body[:end] if end >= 0 else body
    return ""


# ---------------------------------------------------------------------------
# Ontology model
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Ontology:
    """Immutable parsed ontology; cheap to pickle into executor UDF closures."""

    classes: FrozenSet[str]
    subclass_edges: Tuple[Tuple[str, str], ...]          # (child, parent), direct
    object_props: Tuple[Tuple[str, str, str, str], ...]  # (domain, rel, range, comment)
    datatype_props: Tuple[Tuple[str, str, str], ...]     # (domain, prop, dtype)
    class_comments: Dict[str, str] = field(default_factory=dict)

    # ---- derived lookups (computed once in __post_init__) -----------------
    def __post_init__(self):
        parents: Dict[str, List[str]] = {}
        children: Dict[str, List[str]] = {}
        for c, p in self.subclass_edges:
            parents.setdefault(c, []).append(p)
            children.setdefault(p, []).append(c)
        object.__setattr__(self, "_parents", parents)
        object.__setattr__(self, "_children", children)
        object.__setattr__(
            self, "_direct_edge_set", frozenset(self.subclass_edges)
        )
        object.__setattr__(
            self,
            "_valid_rel_set",
            frozenset((d, r, g) for d, r, g, _ in self.object_props),
        )
        props_by_domain: Dict[str, List[str]] = {}
        for d, p, _t in self.datatype_props:
            props_by_domain.setdefault(d, []).append(p)
        object.__setattr__(self, "_props_by_domain", props_by_domain)
        # memo caches (per-instance)
        object.__setattr__(self, "_chain_cache", {})
        object.__setattr__(self, "_schema_cache", {})

    # ---- reference-parity API ---------------------------------------------

    def direct_parents(self, cls: str) -> List[str]:
        return list(self._parents.get(cls, []))

    def direct_children(self, cls: str) -> List[str]:
        return list(self._children.get(cls, []))

    def is_direct_subclass(self, child: str, parent: str) -> bool:
        """Mirror of the per-pair check in ``refine_parent_child_relation``
        (utils.py:274-287): direct SCO edge only, no transitivity."""
        return (child, parent) in self._direct_edge_set

    def label_chain(self, cls: str) -> List[str]:
        """[cls] + all ancestors, BFS order, deduped — the node label list
        (``merged_node_with_label_and_prop``, utils.py:507-524).
        Unknown class -> [cls] alone (reference behaves the same: no Cypher
        match -> just the node itself)."""
        cached = self._chain_cache.get(cls)
        if cached is not None:
            return list(cached)
        chain: List[str] = [cls]
        seen: Set[str] = {cls}
        frontier = [cls]
        while frontier:
            nxt: List[str] = []
            for c in frontier:
                for p in self._parents.get(c, []):
                    if p not in seen:
                        seen.add(p)
                        chain.append(p)
                        nxt.append(p)
            frontier = nxt
        self._chain_cache[cls] = tuple(chain)
        return chain

    def prop_schema(self, cls: str) -> Dict[str, str]:
        """Union of datatype-property names along the ancestor chain, each
        mapped to "" — the empty property bag the reference builds at
        utils.py:513-515 and feeds to property assignment."""
        cached = self._schema_cache.get(cls)
        if cached is not None:
            return dict.fromkeys(cached, "")
        keys: List[str] = []
        for label in self.label_chain(cls):
            for p in self._props_by_domain.get(label, []):
                if p not in keys:
                    keys.append(p)
        self._schema_cache[cls] = tuple(keys)
        return dict.fromkeys(keys, "")

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
                if (l1, rel, l2) in self._valid_rel_set:
                    return (l1, l2)
        return None

    def allowed_relationships(self) -> List[Tuple[str, str, str, str]]:
        """is_a rows ∪ object-prop rows — ``getAllRelationships``
        (utils.py:38-60)."""
        rows = [
            (c, "is_a", p, self.class_comments.get(c, ""))
            for c, p in self.subclass_edges
        ]
        rows.extend(self.object_props)
        return rows

    def subclass_closure(self) -> List[Tuple[str, str, int]]:
        """(descendant, ancestor, depth) transitive closure rows."""
        rows: List[Tuple[str, str, int]] = []
        for cls in sorted(self.classes):
            chain = self.label_chain(cls)
            depth_of: Dict[str, int] = {cls: 0}
            # recompute BFS depths
            frontier = [cls]
            d = 0
            seen = {cls}
            while frontier:
                nxt = []
                d += 1
                for c in frontier:
                    for p in self._parents.get(c, []):
                        if p not in seen:
                            seen.add(p)
                            depth_of[p] = d
                            nxt.append(p)
                frontier = nxt
            for anc in chain[1:]:
                rows.append((cls, anc, depth_of[anc]))
        return rows

    # ---- Spark integration -------------------------------------------------

    def subclass_closure_frame(self, spark, max_depth: int = 16):
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
        for d in range(2, max_depth + 1):
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

    def to_dataframes(self, spark):
        """Four small DataFrames for broadcast joins (SURVEY.md §1.4)."""
        from pyspark.sql.types import (
            IntegerType,
            StringType,
            StructField,
            StructType,
        )

        s = StringType()
        classes_df = spark.createDataFrame(
            [(c,) for c in sorted(self.classes)],
            StructType([StructField("class", s, False)]),
        )
        sub_df = spark.createDataFrame(
            list(self.subclass_edges),
            StructType(
                [StructField("child", s, False), StructField("parent", s, False)]
            ),
        )
        closure_df = spark.createDataFrame(
            self.subclass_closure(),
            StructType(
                [
                    StructField("descendant", s, False),
                    StructField("ancestor", s, False),
                    StructField("depth", IntegerType(), False),
                ]
            ),
        )
        obj_df = spark.createDataFrame(
            list(self.object_props),
            StructType(
                [
                    StructField("domain", s, False),
                    StructField("rel", s, False),
                    StructField("range", s, False),
                    StructField("comment", s, True),
                ]
            ),
        )
        dt_df = spark.createDataFrame(
            list(self.datatype_props),
            StructType(
                [
                    StructField("domain", s, False),
                    StructField("prop", s, False),
                    StructField("dtype", s, False),
                ]
            ),
        )
        return {
            "classes": classes_df,
            "subclass": sub_df,
            "subclass_closure": closure_df,
            "object_props": obj_df,
            "datatype_props": dt_df,
        }


def parse_owl(path: str = DEFAULT_OWL_PATH) -> Ontology:
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
    object_props: List[Tuple[str, str, str, str]] = []
    datatype_props: List[Tuple[str, str, str]] = []
    class_comments: Dict[str, str] = {}

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
                elif pred == "rdfs:comment":
                    class_comments.setdefault(name, _literal(objs))

        if "ObjectProperty" in types:
            domains: List[str] = []
            ranges: List[str] = []
            comment = ""
            for pred, objs in po:
                if pred == "rdfs:domain":
                    domains.extend(_named_objects(objs))
                    for o in objs:
                        domains.extend(_union_members(o))
                elif pred == "rdfs:range":
                    ranges.extend(_named_objects(objs))
                    for o in objs:
                        ranges.extend(_union_members(o))
                elif pred == "rdfs:comment":
                    comment = _literal(objs)
            for d in domains:
                for r in ranges:
                    row = (d, name, r, comment)
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
        class_comments=class_comments,
    )


@lru_cache(maxsize=4)
def load_ontology(path: str = DEFAULT_OWL_PATH) -> Ontology:
    """Cached parse — call freely from pipeline stages and tests."""
    return parse_owl(path)
