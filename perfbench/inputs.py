"""Benchmark-owned input generators; every input is a pure function of the
seed.

Pages are the repository's fixture judgments (ground truth by
construction) for page indices ``s * n .. s * n + n - 1`` with
``s = seed mod 1000``, so seeds pick disjoint page ranges of the same shape; every 10th page is Hindi and
yields no triples, and every 5th page (index 2 mod 5) arrives html-only, so
the html decode runs on it.  They are written with pyarrow in the
benchmark's process, so writing them runs no Spark job.  The skew graph, the
shape of the repository's skew stress bench, is generated from node indices.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from ontologybasedkgcreation_spark import fixtures

ONTOLOGY_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "ontology.ttl")

# distinct inputs before the seeds wrap around
SEED_SLOTS = 1000

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


def input_index(seed: int) -> int:
    """The slot an input of ``seed`` takes: seeds wrap around after
    :data:`SEED_SLOTS`, so page and node indices stay small whatever the
    seed (a page's timestamp is its index in minutes, and node keys are
    12-digit indices)."""
    return seed % SEED_SLOTS


def page_offset(seed: int, n_pages: int) -> int:
    return input_index(seed) * n_pages


def html_only(i: int) -> bool:
    return i % 5 == 2


def page_rows(first: int, n_pages: int, target_chars: int) -> list:
    """Rows of pages ``first .. first + n_pages - 1``; text present except
    on html-only pages."""
    rows = []
    for i in range(first, first + n_pages):
        if i % 10 == 9:
            row = fixtures._page_row(
                f"https://judgments.example.org/hi/{i}.html",
                i, fixtures.HINDI_FILLER * 40, "hi",
            )
        else:
            s = fixtures._page_spec(i)
            row = fixtures._page_row(
                s["url"], i, fixtures._page_text(s, target_chars), "en"
            )
        if html_only(i):
            row["text"] = None
        rows.append(row)
    return rows


def write_pages(path: str, first: int, n_pages: int, target_chars: int) -> str:
    """One parquet file of pages ``first ..``."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.Table.from_pylist(
        page_rows(first, n_pages, target_chars), schema=PAGES_SCHEMA
    )
    pq.write_table(table, path)
    return path


def expected_triples(first: int, n_pages: int) -> list:
    """Ground-truth canonical triples of pages ``first ..``."""
    out = []
    for i in range(first, first + n_pages):
        if i % 10 != 9:
            out.extend(fixtures.expected_triples(fixtures._page_spec(i)))
    return out


# ---------------------------------------------------------------------------
# skew graph: stored node and edge tables with head-entity skew, generated
# on the executors (JVM only) from node index ``(seed mod 1000) * n + k``
# ---------------------------------------------------------------------------


def _node_key(i):
    from pyspark.sql import functions as F

    return F.concat(F.lit("k"), F.lpad(i.cast("string"), 12, "0"))


def skew_identity(i: int, n: int) -> str:
    """The identity text of skew node ``i`` in a table of ``n`` nodes (the
    Python twin of the Spark column built in :func:`skew_nodes`)."""
    shape = i % 10
    hot = f"state of skewland district d{i % max(1, n // 8_000)}"
    if shape <= 2:
        return f"{hot} case r{i}"
    if shape <= 5:
        return f"{hot} zone w{i % max(1, n // 20_000)}"
    if shape == 6:
        return f"office of records branch b{i // 20}" + (" annex" if i % 20 == 16 else "")
    return f"entity e{i} unique u{i * 7}"


def skew_nodes(spark, first: int, n: int):
    """Stored-node rows ``first .. first + n - 1``.  Shapes by ``i % 10``:

    - 0-2: hot tokens (above the df cap) plus one unique token;
    - 3-5: hot tokens only, every one above the df cap (``zone w`` is
      shared by the whole tranche): no distinguishing token, so no
      candidate; the tranche is one identity;
    - 6: planted alias pairs ``i`` / ``i + 10`` (``i % 20 == 6``) sharing a
      df=2 token, the second's bag a superset — these must merge;
    - 7-9: cold nodes with unique tokens.

    These are the tranches of the repository's skew stress bench, with its
    mid-frequency ``zone z`` tranche (shapes 4-5 there) folded into the
    candidate-free one, so that the ``zone w`` token is above the linker's
    1000 df cap from 3337 nodes on; one hot district per 8000 nodes keeps
    every district token above the cap from 2000 on.
    """
    from pyspark.sql import functions as F

    i = F.col("id")
    shape = i % 10
    hot = F.concat(
        F.lit("state of skewland district d"),
        (i % max(1, n // 8_000)).cast("string"),
    )
    identity = (
        F.when(shape <= 2, F.concat(hot, F.lit(" case r"), i.cast("string")))
        .when(
            shape <= 5,
            F.concat(hot, F.lit(" zone w"), (i % max(1, n // 20_000)).cast("string")),
        )
        .when(
            shape == 6,
            F.concat(
                F.lit("office of records branch b"),
                F.floor(i / 20).cast("string"),
                F.when(i % 20 == 16, F.lit(" annex")).otherwise(F.lit("")),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("entity e"), i.cast("string"),
                F.lit(" unique u"), (i * 7).cast("string"),
            )
        )
    )
    return spark.range(first, first + n, 1, 4).select(
        _node_key(i).alias("node_key"),
        F.lit("Entity").alias("head_label"),
        F.array(F.lit("Entity")).alias("labels"),
        F.create_map(F.lit("name"), identity).alias("props"),
    )


def skew_edges(spark, first: int, n: int):
    """Two edges per node, one to a pseudo-random node and one to its
    successor, eight nodes to a url."""
    from pyspark.sql import functions as F

    i = F.col("id")
    k = i - F.lit(first)
    rows = spark.range(first, first + n, 1, 4)
    url = F.concat(F.lit("https://skew.example.org/"), F.floor(i / 8).cast("string"))
    far = rows.select(
        _node_key(i).alias("src_key"),
        F.lit("relatedTo").alias("relationship"),
        _node_key(F.lit(first) + (k * 7919 + 13) % n).alias("dst_key"),
        url.alias("url"),
        (i % 8).cast("long").alias("span_start"),
        F.concat(F.lit("t"), i.cast("string")).alias("triple_id"),
    )
    near = rows.select(
        _node_key(i).alias("src_key"),
        F.lit("follows").alias("relationship"),
        _node_key(F.lit(first) + (k + 1) % n).alias("dst_key"),
        url.alias("url"),
        (i % 8 + 8).cast("long").alias("span_start"),
        F.concat(F.lit("s"), i.cast("string")).alias("triple_id"),
    )
    return far.unionByName(near)


def skew_class(i: int, n: int):
    """The group node ``i`` (of a table of ``n``) must end in after the
    reconcile: planted alias pairs merge, and so do the nodes of the
    ``zone w`` tranche, candidate-free as they are, since their identities
    are equal; every other node stays its own."""
    shape = i % 10
    if shape == 6:
        return ("pair", i // 20)
    if shape in (3, 4, 5):
        return ("identity", skew_identity(i, n))
    return ("node", i)
