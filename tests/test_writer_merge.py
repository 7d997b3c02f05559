"""GraphWriter.merge: incremental multi-batch graph maintenance (parquet
path).  Batch 2 adds its urls without dropping batch 1's graph; a key
present in a batch replaces all of that key's stored rows; re-merging the
same batch is a no-op (node_key idempotence across batches)."""

from pyspark.sql import functions as F

from ontologybasedkgcreation_spark.operators.materialize import GraphWriter


def _edges(spark, rows):
    return spark.createDataFrame(
        rows, "url string, src_key string, relationship string, dst_key string"
    )


def _rows(spark, path):
    return {
        (r["url"], r["src_key"], r["relationship"], r["dst_key"])
        for r in spark.read.parquet(path).collect()
    }


def test_two_batch_merge_preserves_batch1(spark, tmp_path):
    w = GraphWriter(str(tmp_path), buckets=8)
    b1 = [(f"u{i}", f"s{i}", "rel", f"d{i}") for i in range(20)]
    b2 = [(f"v{i}", f"s{i}", "rel", f"d{i}") for i in range(10)]
    p = w.merge("edges", _edges(spark, b1), key="url")  # empty table -> write
    w.merge("edges", _edges(spark, b2), key="url")
    got = _rows(spark, p)
    assert got == set(b1) | set(b2)


def test_merge_replaces_colliding_keys(spark, tmp_path):
    w = GraphWriter(str(tmp_path), buckets=8)
    b1 = [("u1", "s1", "rel", "d1"), ("u1", "s1b", "rel", "d1b"),
          ("u2", "s2", "rel", "d2")]
    b2 = [("u1", "s1new", "rel", "d1new")]  # u1's edge group is rewritten
    w.merge("edges", _edges(spark, b1), key="url")
    p = w.merge("edges", _edges(spark, b2), key="url")
    got = _rows(spark, p)
    assert got == {("u1", "s1new", "rel", "d1new"), ("u2", "s2", "rel", "d2")}


def test_remerge_same_batch_is_noop(spark, tmp_path):
    w = GraphWriter(str(tmp_path), buckets=8)
    b1 = [(f"u{i}", f"s{i}", "rel", f"d{i}") for i in range(20)]
    p = w.merge("edges", _edges(spark, b1), key="url")
    before = _rows(spark, p)
    w.merge("edges", _edges(spark, b1), key="url")
    assert _rows(spark, p) == before


def test_merge_rewrites_only_affected_buckets(spark, tmp_path):
    import os

    w = GraphWriter(str(tmp_path), buckets=8)
    b1 = [(f"u{i}", f"s{i}", "rel", f"d{i}") for i in range(40)]
    p = w.merge("edges", _edges(spark, b1), key="url")
    mtimes = {
        d: os.path.getmtime(os.path.join(p, d))
        for d in os.listdir(p)
        if d.startswith("bucket=")
    }
    # one new url -> exactly one bucket directory touched
    w.merge("edges", _edges(spark, [("zz-new", "s", "rel", "d")]), key="url")
    new_bucket = (
        spark.createDataFrame([("zz-new",)], "url string")
        .select(F.pmod(F.xxhash64("url"), F.lit(8)).cast("int").alias("b"))
        .first()["b"]
    )
    touched = {
        d
        for d in os.listdir(p)
        if d.startswith("bucket=")
        and os.path.getmtime(os.path.join(p, d)) != mtimes.get(d)
    }
    assert touched == {f"bucket={new_bucket}"}


def test_merge_bucket_count_mismatch_raises(spark, tmp_path):
    """A merge with a different bucket count than the stored table must be
    refused — keys would hash to different buckets and leave stale rows."""
    import pytest

    w8 = GraphWriter(str(tmp_path), buckets=8)
    w8.merge("edges", _edges(spark, [("u1", "s1", "rel", "d1")]), key="url")
    w4 = GraphWriter(str(tmp_path), buckets=4)
    with pytest.raises(ValueError, match="buckets=8"):
        w4.merge("edges", _edges(spark, [("u2", "s2", "rel", "d2")]), key="url")


class _IcebergStub:
    """Records the exact calls the (never-executed-here) iceberg branch makes
    — the contract test for fmt='iceberg', which has no runtime jar/catalog
    in this environment."""

    def __init__(self):
        self.calls = []
        self.sparkSession = self

    def createOrReplaceTempView(self, name):
        self.calls.append(("view", name))

    def sql(self, stmt):
        self.calls.append(("sql", stmt))

    def writeTo(self, table):
        self.calls.append(("writeTo", table))
        return self

    def append(self):
        self.calls.append(("append",))

    def createOrReplace(self):
        self.calls.append(("createOrReplace",))


def test_iceberg_merge_contract():
    """fmt='iceberg' merge = DELETE-matching-keys + append, in that order,
    against catalog.table — the statement shapes are pinned even though no
    Iceberg runtime exists here (branch marked experimental)."""
    w = GraphWriter("cat.db", fmt="iceberg")
    stub = _IcebergStub()
    out = w.merge("edges", stub, key="url")
    assert out == "cat.db.edges"
    assert stub.calls == [
        ("view", "_merge_batch_edges"),
        ("sql", "DELETE FROM cat.db.edges WHERE url IN "
                "(SELECT url FROM _merge_batch_edges)"),
        ("writeTo", "cat.db.edges"),
        ("append",),
    ]


def test_iceberg_write_contract():
    """fmt='iceberg' write is a FULL REPLACE (createOrReplace), as the
    docstring promises."""
    w = GraphWriter("cat.db", fmt="iceberg")
    stub = _IcebergStub()
    out = w.write("nodes", stub, key="node_key")
    assert out == "cat.db.nodes"
    assert stub.calls == [("writeTo", "cat.db.nodes"), ("createOrReplace",)]


def test_write_full_replace_survives_dynamic_session_conf(spark, tmp_path):
    """write() is a FULL table replace even when some earlier code in the
    session (e.g. a resume/merge) left partitionOverwriteMode=dynamic in the
    session conf.  Regression: the streaming reconcile's node rewrite left
    the stale pre-merge bucket behind in suite order (resume tests ran
    first), so a merged alias survived as a second node."""
    w = GraphWriter(str(tmp_path), buckets=8)
    b1 = [(f"u{i}", f"s{i}", "rel", f"d{i}") for i in range(20)]
    p = w.write("edges", _edges(spark, b1), key="url")
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        # rewrite with a 2-row frame that cannot touch every stored bucket:
        # all 6 other buckets must still be deleted
        w.write("edges", _edges(spark, b1[:2]), key="url")
        assert _rows(spark, p) == set(b1[:2])
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        else:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def _corrupt_footers(path):
    """Overwrite the footer of every parquet file under ``path``; returns
    each file's bytes after the damage."""
    import glob
    import os

    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    assert files
    for f in files:
        with open(f, "r+b") as fh:
            fh.seek(os.path.getsize(f) - 12)
            fh.write(b"\0" * 12)
    return {f: open(f, "rb").read() for f in files}


def test_merge_into_unreadable_table_raises_and_keeps_files(spark, tmp_path):
    """A stored table whose files cannot be read is not an empty table:
    merge raises instead of falling back to write()'s full replace, and
    every stored file stays byte-identical."""
    import glob
    import os

    import pytest
    from py4j.protocol import Py4JJavaError

    w = GraphWriter(str(tmp_path), buckets=8)
    b1 = [(f"u{i}", f"s{i}", "rel", f"d{i}") for i in range(40)]
    p = w.write("edges", _edges(spark, b1), key="url")
    before = _corrupt_footers(p)
    with pytest.raises(Py4JJavaError):
        w.merge("edges", _edges(spark, [("zz", "s", "rel", "d")]), key="url")
    after = glob.glob(os.path.join(p, "**", "*.parquet"), recursive=True)
    assert {f: open(f, "rb").read() for f in after} == before
