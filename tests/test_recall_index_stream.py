"""Streaming recall-index maintenance (streaming/index_maint.py): the
per-doc statistics table kept current by micro-batch LWW merges must
score bit-identically to the batch recall core over the same corpus,
survive document rewrites, and stay duplicate-free under full-stream
replay — the reference's write-path index maintenance
(remember.rs:168-177) re-expressed as a transactional sink."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from mnemo_spark.io import load_table
from mnemo_spark.operators.recall_core import perdoc_stats, scored_from_perdoc
from mnemo_spark.sources.txlog import TxTable
from mnemo_spark.streaming.index_maint import (
    recall_index_sink,
    recall_scored_from_index,
)

DOC_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


def _scored_set(df):
    return {
        (r["doc_id"], r["source"], r["length_score"], r["bm25"], r["cos"])
        for r in df.collect()
    }


def _run_stream(spark, src, tx_path, ckpt, schema):
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = recall_index_sink(stream, tx_path, ckpt).start()
    q.awaitTermination()


def test_streamed_index_matches_batch_survives_rewrite_and_replay(
    spark, sf_dir, tmp_path
):
    docs = load_table(spark, sf_dir, "documents").select(*DOC_COLS)
    src = str(tmp_path / "src")
    os.makedirs(src)
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
    docs.filter(F.col("doc_id") <= mid).coalesce(1).write.parquet(src + "/b0")
    docs.filter(F.col("doc_id") > mid).coalesce(1).write.parquet(src + "/b1")

    tx_path = str(tmp_path / "recall_index")
    ckpt = str(tmp_path / "ckpt")
    _run_stream(spark, src, tx_path, ckpt, docs.schema)

    # two micro-batches -> the maintained index scores EXACTLY like the
    # batch core over the full corpus (per-doc rows from the table,
    # corpus scalars re-derived at query time)
    got = _scored_set(recall_scored_from_index(spark, tx_path))
    want = _scored_set(scored_from_perdoc(perdoc_stats(docs)))
    assert got == want and len(got) == docs.count()

    # rewrite: a third file re-submits some docs with NEW text — the
    # continued stream merges LWW by doc_id, no duplicate rows
    rewritten = docs.filter(F.col("doc_id") <= 5).withColumn(
        "text", F.concat(F.col("text"), F.lit(" spark spark rewrite"))
    )
    rewritten.coalesce(1).write.parquet(src + "/b2")
    _run_stream(spark, src, tx_path, ckpt, docs.schema)

    after = docs.filter(F.col("doc_id") > 5).unionByName(rewritten)
    got2 = _scored_set(recall_scored_from_index(spark, tx_path))
    assert got2 == _scored_set(scored_from_perdoc(perdoc_stats(after)))
    idx = TxTable(tx_path).snapshot(spark)
    assert idx.count() == idx.select("doc_id").distinct().count() == docs.count()

    # full-stream REPLAY with a fresh checkpoint: every batch_id is at
    # or below the txn watermark -> all epochs skip, the table's
    # version history does not advance and scores are unchanged
    v_before = TxTable(tx_path).latest_version()
    _run_stream(spark, src, tx_path, str(tmp_path / "ckpt_replay"), docs.schema)
    assert TxTable(tx_path).latest_version() == v_before
    assert _scored_set(recall_scored_from_index(spark, tx_path)) == got2


def test_scored_from_perdoc_empty_corpus(spark, sf_dir):
    """An empty corpus (an empty maintained index) has no avgdl: the
    lane scores are an empty frame with the usual columns, not a
    float(None) error at plan-build time."""
    empty = load_table(spark, sf_dir, "documents").select(*DOC_COLS).limit(0)
    out = scored_from_perdoc(perdoc_stats(empty))
    assert out.columns == ["doc_id", "source", "length_score", "bm25", "cos"]
    assert out.count() == 0
