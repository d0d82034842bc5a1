"""Structured Streaming variant of the extraction DAG (SURVEY.md §2.8).

The reference is strictly request/response (one text per Streamlit click,
app.py:728-757) — no watermarks or stateful semantics are required.  This
module exists so the same extraction logic runs incrementally over an
arriving file stream: readStream -> spans.extract_mentions_arrow (the
batch KG pipeline's mention stage, unchanged) -> append-mode parquet sink
with a checkpoint, the streaming twin of the resumable batch pipeline.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..operators import spans
from ..sources.repos import REPO_SCHEMA, with_content_sha


def stream_mentions(spark: SparkSession, input_dir: str,
                    checkpoint_dir: str, out_dir: str,
                    trigger_once: bool = True,
                    max_files_per_trigger: int | None = None):
    """File-source stream of repo-shaped parquet -> mentions sink.

    Extraction is the KG pipeline's mention stage,
    spans.extract_mentions_arrow: one narrow, stateless mapInPandas per
    microbatch (exact reference spans, no aggregation state), so append
    mode needs no watermark.  The registry's window/groupBy form would
    be a streaming aggregation and need an update-mode sink.

    ``max_files_per_trigger`` bounds each microbatch to N source files —
    with availableNow this drains the backlog in multiple real
    microbatches instead of one."""
    reader = spark.readStream.schema(REPO_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = reader.parquet(input_dir)
    src = with_content_sha(src).withColumn(
        "doc_id", F.xxhash64("repo", "path", "commit")
    )
    m = spans.extract_mentions_arrow(
        src, text_col="content", id_col="doc_id", sha_col="content_sha",
        keep_cols=["repo", "path", "commit"],
    )
    writer = (
        m.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
