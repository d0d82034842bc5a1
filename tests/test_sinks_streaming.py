"""Sink export schemas (S6/S7, D14 parity) and the Structured Streaming
variant of the extraction DAG."""

import json
import os

import pytest
from pyspark.sql import functions as F

from biomedical_ner_spark.operators import spans
from biomedical_ner_spark.sources import sinks
from biomedical_ner_spark.sources.repos import synthesize_repos


@pytest.fixture(scope="module")
def preds_mentions(spark, golden_docs):
    preds = spans.bio_tags_exploded(golden_docs)
    m = spans.mentions(golden_docs)
    return preds, m


def test_json_export_schema(spark, preds_mentions, tmp_path):
    preds, m = preds_mentions
    out = str(tmp_path / "json_out")
    sinks.export_json(preds, m, out, dataset="JNLPBA")
    rows = [json.loads(ln) for f in os.listdir(out) if f.endswith(".json")
            for ln in open(os.path.join(out, f))]
    assert len(rows) == preds.select("doc_id").distinct().count()
    r = next(x for x in rows if x["doc_id"] == 0)
    # D14 field set (app.py:910-917)
    assert set(r) >= {"doc_id", "predictions", "entities", "dataset",
                      "timestamp"}
    assert r["predictions"][0].keys() >= {"token", "tag"}
    ent = r["entities"][0]
    assert set(ent) == {"text", "type", "tag", "individual_tags", "tokens",
                        "start_position", "end_position"}


def test_csv_export_schema(spark, preds_mentions, tmp_path):
    preds, m = preds_mentions
    out = str(tmp_path / "csv_out")
    sinks.export_csv(preds, out)
    df = spark.read.option("header", True).csv(out)
    assert set(df.columns) == {"doc_id", "position", "token", "tag", "type"}
    assert int(df.count()) == preds.count()


def test_graph_tables_bucket_partitioned(spark, golden_docs, tmp_path):
    m = spans.mentions(golden_docs)
    ents = m.groupBy("type").agg(F.count(F.lit(1)).alias("n")).withColumnRenamed(
        "type", "entity_type")
    rels = m.select(F.col("type").alias("subj_type"),
                    F.col("text").alias("subj_text"))
    base = str(tmp_path / "graph")
    sinks.write_graph_tables(ents, rels, base)
    edirs = [d for d in os.listdir(f"{base}/entities")
             if d.startswith("type_bucket=")]
    assert edirs, "entities not bucket-partitioned"
    back = spark.read.parquet(f"{base}/entities")
    assert back.count() == ents.count()


def test_streaming_extraction(spark, tmp_path):
    from biomedical_ner_spark.sources.repos import REPO_SCHEMA, with_content_sha
    from biomedical_ner_spark.streaming.stream_kg import stream_mentions

    # two non-ASCII documents: the ASCII SQL tokenizer of the window form
    # would split their words and shift the positions of later mentions
    repos = synthesize_repos(spark, n_files=40, seed=7).unionByName(
        spark.createDataFrame([
            ("org/ü", "src/größe.txt", "c1", "de",
             "Größe naïve T-Zellen: p53 protein bindet die DNA in Zürich."),
            ("org/ü", "src/δ.txt", "c2", "el",
             "ΔNp63 — HeLa cells, mRNA 5µm; Jurkat line"),
        ], REPO_SCHEMA))
    in_dir = str(tmp_path / "in")
    repos.write.parquet(in_dir)
    out_dir = str(tmp_path / "out")
    chk = str(tmp_path / "chk")
    q = stream_mentions(spark, in_dir, chk, out_dir)
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir)
    # the sink equals a batch run of the same extractor, on every column
    src = with_content_sha(repos).withColumn(
        "doc_id", F.xxhash64("repo", "path", "commit"))
    batch = spans.extract_mentions_arrow(
        src, text_col="content", id_col="doc_id", sha_col="content_sha",
        keep_cols=["repo", "path", "commit"],
    )
    assert got.columns == batch.columns

    def rows(df):
        return sorted(tuple(tuple(v) if isinstance(v, list) else v
                            for v in r) for r in df.collect())

    a, b = rows(got), rows(batch)
    assert a == b and len(a) > 0
    paths = {r[got.columns.index("path")] for r in a}
    assert {"src/größe.txt", "src/δ.txt"} <= paths


def test_windowed_event_counts_watermark_semantics(spark, tmp_path):
    """Streaming windowed agg == batch twin for every window the watermark
    closed; trailing windows (end > final watermark) are withheld by
    append mode — the late-data contract."""
    from datetime import datetime, timedelta

    from biomedical_ner_spark.streaming.windowed import (
        WATERMARK,
        stream_windowed_event_counts,
        windowed_event_counts,
    )

    base = datetime(2024, 1, 1)
    rows = [
        (i, base + timedelta(minutes=7 * i), i % 5,
         "click" if i % 2 else "view", float(i) + 0.25, "{}")
        for i in range(40)  # spans ~4.6 hours of event time
    ]
    schema = ("event_id BIGINT, ts TIMESTAMP, user_id BIGINT,"
              " event_type STRING, value DOUBLE, props STRING")
    events = spark.createDataFrame(rows, schema)
    src_dir = str(tmp_path / "events_src")
    events.coalesce(1).write.parquet(src_dir)

    out_dir = str(tmp_path / "win_out")
    q = stream_windowed_event_counts(
        spark, src_dir, str(tmp_path / "ckpt"), out_dir, schema)
    q.awaitTermination(120)

    got = {(r.window_start, r.event_type): (r.n, r.value_cents)
           for r in spark.read.parquet(out_dir).collect()}
    batch = {(r.window_start, r.event_type): (r.n, r.value_cents)
             for r in windowed_event_counts(events).collect()}

    # final watermark = max ts - 10 min; closed windows = end <= watermark
    max_ts = max(r[1] for r in rows)
    assert WATERMARK == "10 minutes"
    wm = max_ts - timedelta(minutes=10)

    def closed(key):
        start = datetime.strptime(key[0], "%Y-%m-%d %H:%M:%S")
        return start + timedelta(hours=1) <= wm

    expect = {k: v for k, v in batch.items() if closed(k)}
    assert got == expect
    assert 0 < len(expect) < len(batch)  # some emitted, trailing withheld
