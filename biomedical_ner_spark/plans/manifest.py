"""Run manifest: per-partition lineage + counters for resumable runs
(north rule; SURVEY.md §4.3.5).

Schema: (run_id, stage, bucket, rows_in, rows_out, sha_ok, ts).

Each stage of a run writes, verifies, then appends: it writes its pending
buckets with per-bucket dynamic partition overwrite (a rewrite is
idempotent), ONE action reads them back for rows_in, rows_out and sha_ok
per bucket, and only then is one row per pending bucket appended here,
zero-row buckets included.  A bucket is *done* for a stage iff a manifest
row exists; restart anti-joins pending = all-buckets minus done (J10), so
a crash between write and append leaves the bucket pending and the rerun
overwrites it.  The rows_out of done buckets give a resumed run its totals
without re-counting the tables.
"""

from __future__ import annotations

import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import driver_frame

MANIFEST_SCHEMA = (
    "run_id STRING, stage STRING, bucket INT, rows_in BIGINT,"
    " rows_out BIGINT, sha_ok BOOLEAN, ts DOUBLE"
)


def read_manifest(spark: SparkSession, path: str) -> DataFrame:
    try:
        return spark.read.schema(MANIFEST_SCHEMA).parquet(path)
    except AnalysisException:  # no manifest yet
        return driver_frame(spark, [], MANIFEST_SCHEMA)


def done_buckets(spark: SparkSession, path: str, run_id: str,
                 stage: str) -> list[tuple[int, int]]:
    """(bucket, rows_out) of every manifest row of (run_id, stage), oldest
    first; a bucket is done iff it appears.  A ``resume=False`` rerun into
    the same directory appends a second row per bucket, so a bucket can
    appear more than once: its last row is the current one."""
    rows = (
        read_manifest(spark, path)
        .where((F.col("run_id") == run_id) & (F.col("stage") == stage))
        .select("bucket", "rows_out", "ts").collect()
    )
    return [(r.bucket, r.rows_out) for r in sorted(rows, key=lambda r: r.ts)]


def append_rows(spark: SparkSession, path: str, rows: list[tuple]) -> None:
    if rows:
        driver_frame(spark, rows, MANIFEST_SCHEMA).write.mode("append") \
            .parquet(path)


def stage_counters(run_id: str, stage: str, in_counts: dict[int, int],
                   out_counts: dict[int, int],
                   sha_ok: dict[int, bool]) -> list[tuple]:
    now = time.time()
    return [(run_id, stage, int(b), int(in_counts[b]), int(out_counts[b]),
             bool(sha_ok[b]), now) for b in sorted(in_counts)]
