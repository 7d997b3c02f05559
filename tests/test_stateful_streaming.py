"""applyInPandasWithState online exact-dedup: each distinct text passes the
gate once — within a batch, across micro-batches, and across query restarts
(state rides the checkpoint)."""

import datetime

from pyspark.sql import functions as F

from ontologybasedkgcreation_spark.streaming import ingest, stateful

TS0 = datetime.datetime(2024, 1, 1, 0, 0, 0)


def _pages(spark, rows):
    """rows: [(url, minutes_offset, text, lang)]"""
    return spark.createDataFrame(
        [
            (u, TS0 + datetime.timedelta(minutes=m), None, t, lang)
            for (u, m, t, lang) in rows
        ],
        ingest.PAGES_SCHEMA_DDL,
    )


def _run(spark, src, out, ckpt):
    stream = ingest.read_page_stream(spark, src)
    deduped = stateful.streaming_dedup_exact(stream)
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)


def _emitted(spark, out):
    return {
        (r["url"], r["text"], r["n_in_batch"])
        for r in spark.read.parquet(out).collect()
    }


def test_dedup_within_and_across_batches(spark, tmp_path):
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # batch 1: "alpha" twice (earliest url wins), "beta" once
    _pages(
        spark,
        [
            ("u2", 5, "alpha text", "en"),
            ("u1", 1, "alpha text", "en"),
            ("u3", 2, "beta text", "en"),
        ],
    ).write.parquet(src)
    _run(spark, src, out, ckpt)
    assert _emitted(spark, out) == {
        ("u1", "alpha text", 2),
        ("u3", "beta text", 1),
    }

    # batch 2 (same checkpoint -> state survives the restart): a re-crawl of
    # "alpha" is absorbed silently; "gamma" is new
    _pages(
        spark,
        [
            ("u4", 10, "alpha text", "en"),
            ("u5", 11, "gamma text", "hi"),
        ],
    ).write.mode("append").parquet(src)
    _run(spark, src, out, ckpt)
    assert _emitted(spark, out) == {
        ("u1", "alpha text", 2),
        ("u3", "beta text", 1),
        ("u5", "gamma text", 1),
    }

    # replay with no new files: exactly-once, nothing re-emitted
    _run(spark, src, out, ckpt)
    assert spark.read.parquet(out).count() == 3


def test_dedup_null_text_is_a_key(spark, tmp_path):
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _pages(
        spark,
        [("u1", 1, None, "en"), ("u2", 2, None, "en"), ("u3", 3, "x", "en")],
    ).write.parquet(src)
    _run(spark, src, out, ckpt)
    got = _emitted(spark, out)
    assert ("u1", None, 2) in got and ("u3", "x", 1) in got and len(got) == 2


def test_dedup_jvm_fast_path(spark, tmp_path):
    """streaming_dedup_exact_jvm (built-in dropDuplicates state, no
    Python): one row per distinct content within and across batches with
    checkpointed exactly-once, matching the pandas-state op on every
    content-pure column.  WHICH duplicate row
    survives is engine order — only content-pure projections are
    asserted."""
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _pages(
        spark,
        [
            ("u2", 5, "alpha text", "en"),
            ("u1", 1, "alpha text", "en"),
            ("u3", 2, "beta text", "en"),
        ],
    ).write.parquet(src)

    def run():
        stream = ingest.read_page_stream(spark, src)
        q = (
            stateful.streaming_dedup_exact_jvm(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run()
    texts = sorted(r["text"] for r in spark.read.parquet(out).collect())
    assert texts == ["alpha text", "beta text"]
    # across batches via the same checkpoint: re-crawl absorbed, new text
    # passes
    _pages(
        spark,
        [("u4", 10, "alpha text", "en"), ("u5", 11, "gamma text", "hi")],
    ).write.mode("append").parquet(src)
    run()
    texts = sorted(r["text"] for r in spark.read.parquet(out).collect())
    assert texts == ["alpha text", "beta text", "gamma text"]
    # exactly-once on replay
    run()
    assert spark.read.parquet(out).count() == 3
