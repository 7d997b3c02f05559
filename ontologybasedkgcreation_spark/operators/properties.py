"""Property assignment (E5) + title-casing (E6), Arrow-batched.

Replaces the reference's per-triple LLM property-extraction chain
(``kg_creator/src/prompts.py:322-446``, invoked at ``utils.py:561-565``) with
the deterministic rules its own prompt + examples fix:

1. empty property schema  -> ``{"text": value}``            (prompts.py:327)
   (a dict value with empty schema concatenates its values — example 4,
   prompts.py:423-445)
2. dict value             -> copy values whose keys match schema keys
                                                            (prompts.py:330-331)
3. plain-string value with a (first,last)-name key pair:
   - exactly two tokens   -> split on the whitespace ("Jagan Ram" ->
     first/last — example 1, prompts.py:347-372)
   - one token            -> goes to the *last*-name key (a body-line judge
     mention like "Deshmukh, J." is a surname; the reference's "best logic"
     clause, prompts.py:331)
   - three-plus tokens    -> everything in the FIRST key ("state of Haryana"
     -> firstName, prompts.py:332)
4. plain-string value otherwise -> first schema key.

Then every produced string is title-cased with Python ``str.title()``
semantics — byte-parity with ``make_title_case_all`` (utils.py:527-537;
NOT Spark ``initcap``, which would leave "m.p." uncapitalized).

Runs as one ArrowEvalPython stage of two pandas UDFs over validated
triples; the ontology prop schemas ride along as array columns from the
validation join, so the UDFs have no external lookups.
"""

from __future__ import annotations

from typing import Dict, Sequence

import pandas as pd
from pyspark.sql import DataFrame

from .extract import VALUE

NAME_PAIRS = [
    ("firstName", "lastName"),
    ("COFirstName", "COLastName"),
    ("wFirstName", "wLastName"),
]

ASSIGNED_SCHEMA = (
    "url string, span_start long, triple_id string, "
    "node1_type string, node1_labels array<string>, "
    "node1_props map<string,string>, relationship string, "
    "node2_type string, node2_labels array<string>, "
    "node2_props map<string,string>"
)


def assign_props(value: Dict[str, str], schema: Sequence[str]) -> Dict[str, str]:
    """One node's raw value map -> property bag per the rules above."""
    value = value if value is not None else {}
    schema = list(schema) if schema is not None else []
    is_bare = set(value.keys()) == {VALUE}
    if not schema:
        if is_bare:
            return {"text": value.get(VALUE, "")}
        return {"text": " ".join(v for v in value.values() if v)}
    props = dict.fromkeys(schema, "")
    if not is_bare:
        for k, v in value.items():
            if k in props and v:
                props[k] = v
        return props
    s = (value.get(VALUE) or "").strip()
    if not s:
        return props
    for first_key, last_key in NAME_PAIRS:
        if first_key in props and last_key in props:
            tokens = s.split()
            if len(tokens) == 2:
                props[first_key], props[last_key] = tokens
            elif len(tokens) == 1:
                props[last_key] = s
            else:
                props[first_key] = s
            return props
    props[schema[0]] = s
    return props


def title_props(props: Dict[str, str]) -> Dict[str, str]:
    return {k: (v.title() if isinstance(v, str) else v) for k, v in props.items()}


# Cross-batch memo of title_props(assign_props(value, schema)) keyed on the
# EXACT (value entries in map order, schema) pair — assign+titlecase is a
# pure function of that pair, and natural corpora repeat entity mentions
# Zipf-style, so after the first batches the per-row cost degrades to a
# dict lookup (the hash_tokens_u64 discipline: bounded, cleared wholesale
# on overflow, values recomputable).  The value key is ORDER-SENSITIVE
# (tuple(items), not sorted) because rule 1 concatenates map values in
# entry order.
_ASSIGN_CACHE: dict = {}
# 2^19 entries ≈ 100 MB/worker upper bound: a 200k-page corpus carries
# ~150-250k distinct (value, schema) pairs per worker, which overflowed
# the 2^18 cap and triggered wholesale clears mid-run (hot pool entries
# lost with the cold per-page ones)
_ASSIGN_CACHE_MAX = 1 << 19


def _assign_title_cached(value, schema) -> Dict[str, str]:
    key = (
        tuple(value.items()) if value is not None else None,
        tuple(schema) if schema is not None else None,
    )
    cache = _ASSIGN_CACHE
    hit = cache.get(key)
    if hit is None:
        hit = title_props(assign_props(value, list(schema) if schema is not None else None))
        if len(cache) >= _ASSIGN_CACHE_MAX:
            cache.clear()
        cache[key] = hit
    return hit


def assign_and_titlecase(validated: DataFrame) -> DataFrame:
    """validated triples -> + node1_props / node2_props (title-cased).

    One ArrowEvalPython stage of two vectorized pandas UDFs over exactly
    the four columns the rules read ((value, schema) per side) — the
    passthrough columns (url, ids, labels, types) stay in the JVM instead
    of riding the Arrow boundary both ways, which the mapInPandas form
    forced (guide §4.1: pass only the columns the function needs).
    Per-row work goes through :func:`_assign_title_cached`."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("map<string,string>")
    def _assign(value: pd.Series, schema: pd.Series) -> pd.Series:
        # dtype=object: an empty batch otherwise yields a float64 Series,
        # which Arrow cannot convert to map<string,string>
        return pd.Series(
            [_assign_title_cached(v, s) for v, s in zip(value, schema)],
            dtype=object,
        )

    return validated.select(
        "url",
        "span_start",
        "triple_id",
        "node1_type",
        "node1_labels",
        _assign("node1_value", "node1_schema").alias("node1_props"),
        "relationship",
        "node2_type",
        "node2_labels",
        _assign("node2_value", "node2_schema").alias("node2_props"),
    )
