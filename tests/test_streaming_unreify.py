"""Streaming ingest and unreify operator tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kgtk_spark.operators.unreify import unreify_rdf_statements
from kgtk_spark.pipeline import (
    alias_dictionary_df,
    expected_edges_df,
    generate_pages_df,
    run_pipeline,
    triple_precision_recall,
)
from kgtk_spark.streaming import stream_edges_from_pages, windowed_edge_counts


def test_unreify_rdf_statements(spark):
    edges = spark.createDataFrame(
        [
            ("St1", "rdf:type", "rdf:Statement"),
            ("St1", "rdf:subject", "Q1"),
            ("St1", "rdf:predicate", "P31"),
            ("St1", "rdf:object", "Q5"),
            ("St1", "P585", "^2020"),          # qualifier on the statement
            ("Q7", "P31", "Q5"),               # untouched direct edge
        ],
        ["node1", "label", "node2"],
    )
    out = unreify_rdf_statements(edges).collect()
    rows = {(r["node1"], r["label"], r["node2"]) for r in out}
    assert ("Q1", "P31", "Q5") in rows            # collapsed direct edge
    assert ("Q1-P31-Q5", "P585", "^2020") in rows  # qualifier re-anchored
    assert ("Q7", "P31", "Q5") in rows             # passthrough
    assert not any(r["node1"] == "St1" for r in out)  # reification gone
    assert len(rows) == 3


def test_streaming_edges_match_batch(spark, tmp_path):
    pages, world = generate_pages_df(spark, n_pages=60, n_entities=25, seed=21)
    pages_dir = str(tmp_path / "pages")
    pages.write.mode("overwrite").parquet(pages_dir)
    ad = alias_dictionary_df(spark, world)

    out_dir = str(tmp_path / "edges")
    q = stream_edges_from_pages(
        spark, pages_dir, ad, out_dir, str(tmp_path / "ckpt"), trigger_once=True
    )
    q.awaitTermination(180)

    got = spark.read.parquet(out_dir)
    p, r = triple_precision_recall(got, expected_edges_df(spark, world))
    assert p >= 0.95 and r >= 0.95

    # streamed edges carry the same KGTK ids as the batch pipeline's
    batch = run_pipeline(spark, pages, ad, str(tmp_path / "batch"), n_buckets=2)
    both = got.join(
        batch.withColumnRenamed("id", "batch_id"), ["node1", "label", "node2"]
    ).collect()
    assert both
    assert all(r["id"] == r["batch_id"] for r in both)


def test_windowed_counts_schema(spark, tmp_path):
    # run the windowed agg on a static frame (same plan, batch-executed)
    pages, _ = generate_pages_df(spark, n_pages=50, n_entities=20, seed=9)
    out = windowed_edge_counts(pages, window="30 minutes")
    rows = out.collect()
    assert out.columns == ["window_start", "window_end", "lang", "n_pages"]
    assert sum(r["n_pages"] for r in rows) == 50


def test_stateful_running_counts(spark, tmp_path):
    """applyInPandasWithState accumulates across micro-batches."""
    from kgtk_spark.streaming.stateful import running_subject_counts

    src = str(tmp_path / "stream_src")
    # two files → with maxFilesPerTrigger=1, two micro-batches
    spark.createDataFrame(
        [("Q1", "P31", "Q5"), ("Q2", "P31", "Q5")], ["node1", "label", "node2"]
    ).coalesce(1).write.mode("overwrite").parquet(src)
    spark.createDataFrame(
        [("Q1", "P279", "Q6")], ["node1", "label", "node2"]
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("node1 string, label string, node2 string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        running_subject_counts(stream)
        .writeStream.format("memory")
        .queryName("running_counts")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM running_counts").collect()
    # final state: Q1 seen twice total (across batches), Q2 once
    latest = {}
    for r in rows:
        latest[r["node1"]] = max(latest.get(r["node1"], 0), r["total_edges"])
    assert latest == {"Q1": 2, "Q2": 1}


def test_streaming_cross_batch_dedup(spark, tmp_path):
    import time

    from kgtk_spark.streaming.ingest import stream_dedup_documents

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    # two files → two micro-batches (maxFilesPerTrigger=1); the overlap
    # between them must be caught by the cross-batch state store
    spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text"), (3, "alpha text")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(docs_dir / "b1"))
    time.sleep(1.1)  # distinct mtimes → deterministic file order
    spark.createDataFrame(
        [(4, "beta text"), (5, "gamma text")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(docs_dir / "b2"))

    out = tmp_path / "out"
    q = stream_dedup_documents(
        spark,
        f"{docs_dir}/*",
        str(out),
        str(tmp_path / "ckpt"),
        schema="doc_id long, text string",
    )
    q.awaitTermination(120)
    got = spark.read.parquet(str(out))
    texts = [r["text"] for r in got.collect()]
    assert sorted(texts) == ["alpha text", "beta text", "gamma text"]
