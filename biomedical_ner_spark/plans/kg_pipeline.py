"""The end-to-end KG construction DAG (north rule, BASELINE.json):

  repos(repo, path, commit, lang, content)
    -> [extract]      mentions (tokenize -> BIO tag -> span merge)
    -> [link]         + cui/link_score vs broadcast alias dict
    -> [canonicalize] salted counts + connected components -> canonical_id
    -> [triples]      co-occurrence (subj, pred, obj) with verb rule
    -> [materialize]  entities + relations tables, type-bucket partitioned

Invariants & ops story:
  * per-row content sha256 (P14) computed at ingest, carried through every
    stage, re-verified at the sink.
  * each stage writes, verifies, then appends (manifest.py): its pending
    buckets go to bucket-partitioned parquet with dynamic partition
    overwrite set on the writer (idempotent per bucket, session conf
    untouched); ONE action (verify_buckets) reads them back and yields
    rows_in, rows_out and sha_ok per bucket; one manifest row per pending
    bucket, empty ones included, is appended.
  * resumable: work is hash-bucketed by (repo, path, commit); a restart
    recomputes only buckets missing their manifest row (the graph stage
    recomputes the global canonical map and entities table, but writes
    relations for its pending buckets only).  Stage totals are
    the verified rows_out plus the manifest rows_out of skipped buckets, so
    no table is re-counted; a table written in this run is read back with
    its writer's schema (no footer-inference job).
  * the (cui -> canonical_id) map is computed once per run and written
    next to the connected-components rounds; the corpus is cached for the
    run and released even when a stage raises.
  * skew: canonical-id aggregation uses salted two-phase counts; the
    co-occurrence self-join relies on bounded per-doc mention counts
    (<= max_seq_len) + AQE skew splitting.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..operators import spans
from ..operators.canonicalize import canonical_entities, salted_counts
from ..operators.linking import link_mentions
from ..operators.triples import triples as make_triples
from ..session import codegen_compiles
from ..sources.repos import with_content_sha
from . import manifest as mf

STAGES = ("mentions", "linked", "graph")


def _dyn_overwrite(df: DataFrame, path: str,
                   files_per_bucket: int = 1,
                   n_buckets: int | None = None) -> None:
    # cluster rows by bucket before the partitioned write: without this a
    # 128-partition upstream writes up to 128 files into EVERY bucket dir
    # (2048 tiny files, 4x the bytes; measured 97s -> 35s on the 20k-file
    # stress).  files_per_bucket>1 adds a content-stable xxhash64(doc_id)
    # sub-bucket to the key, so write parallelism is ~n_buckets x
    # files_per_bucket (at 1M files the one-file-per-bucket write was ~55%
    # of stage 3) while the resume granularity (the bucket dir), row
    # content and per-bucket idempotence are untouched.  The partition
    # count is EXPLICIT: an expression-only repartition lets AQE coalesce
    # small partitions back down, silently undoing the sharding.
    if files_per_bucket > 1 and n_buckets is None:
        # a silent fall-through to the unsharded write would hand a caller
        # requesting sharding neither sharding nor an error (ADVICE r5)
        raise ValueError(
            "files_per_bucket > 1 requires n_buckets (the explicit "
            "partition count n_buckets * files_per_bucket keeps AQE from "
            "coalescing the sharding away)")
    if files_per_bucket > 1:
        clustered = df.repartition(
            n_buckets * files_per_bucket,
            F.col("bucket"),
            F.pmod(F.xxhash64("doc_id"), F.lit(files_per_bucket)),
        )
    else:
        clustered = df.repartition(F.col("bucket"))
    # a writer option: set on the session, dynamic mode would leak into
    # every later partitioned overwrite
    (clustered.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("bucket").parquet(path))


def _read_back(spark: SparkSession, path: str, df: DataFrame) -> DataFrame:
    """The table ``df`` was written to, read with its writer's schema in
    on-disk order (partition column last, all nullable), which is what a
    schema-less read infers, minus the footer-inference job."""
    fields = sorted(df.schema, key=lambda f: f.name == "bucket")
    return spark.read.schema(StructType(
        [StructField(f.name, f.dataType, True) for f in fields])).parquet(path)


def verify_buckets(stage: str, written: DataFrame, inp: DataFrame,
                   pending: list[int]) -> tuple[dict, dict, dict]:
    """(rows_in, rows_out, sha_ok) per pending bucket, zero-row buckets
    included, from ONE action over the stage input unioned with the rows
    read back from the sink.  sha_ok: no written row carries a content_sha
    outside the input's (mentions, graph); rows_in == rows_out for linked,
    whose rows are one per mention (a broadcast join onto the link map)."""
    def tagged(df: DataFrame, n_in: int, n_out: int,
               n_foreign: int) -> DataFrame:
        return df.where(F.col("bucket").isin(pending)).select(
            "bucket", "content_sha", F.lit(n_in).alias("_in"),
            F.lit(n_out).alias("_out"), F.lit(n_foreign).alias("_foreign"))

    src = tagged(inp, 1, 0, 0)
    out = tagged(written, 0, 1, 0)
    # an anti join needs no distinct of the input shas (a left join does:
    # one exchange and one job more)
    foreign = tagged(out.join(src.select("content_sha"), "content_sha",
                              "left_anti"), 0, 0, 1)
    counts = dict.fromkeys(pending, (0, 0, 0))
    counts.update(
        (r.bucket, (r._in, r._out, r._foreign))
        for r in src.unionByName(out).unionByName(foreign)
        .groupBy("bucket")
        .agg(*(F.sum(c).alias(c) for c in ("_in", "_out", "_foreign")))
        .collect())
    return (
        {b: c[0] for b, c in counts.items()},
        {b: c[1] for b, c in counts.items()},
        {b: c[0] == c[1] if stage == "linked" else c[2] == 0
         for b, c in counts.items()},
    )


def prepare_input(repos: DataFrame, n_buckets: int,
                  wide_ids: bool = False) -> DataFrame:
    """Attach doc_id + resume bucket.

    ``wide_ids``: the default 64-bit xxhash64 doc_id expects ~n^2/2^65
    birthday collisions — ~27k at the 10^12-file design scale, where two
    distinct files sharing a doc_id would cross-wire their mentions.
    wide_ids=True switches to the 128-bit md5 hex key (expected
    collisions ~1e-15 at 10^12 rows); every downstream join/groupBy is
    key-type-agnostic.  Default stays 64-bit for cross-round output
    determinism at test scale.

    The md5 input is the JSON of the key struct (nulls kept), not a
    separator-joined concat: concat_ws silently drops NULL fields (so
    (NULL, 'x', c) and ('x', NULL, c) collide) and a separator byte
    appearing inside a field shifts boundaries.  JSON escaping frames
    every field unambiguously and keeps NULL distinct from '' — the
    collision guard holds for arbitrary key values.

    The 64-bit branch needs its own NULL handling: Spark's xxhash64
    SKIPS null children entirely (the running hash passes through), so
    (NULL, 'x', c) and ('x', NULL, c) would otherwise hash identically.
    Each field is coalesced to a control-byte sentinel — non-NULL rows
    hash exactly as before (recorded e2e outputs stay byte-stable), and
    NULL-position swaps now differ because the sentinel is hashed in the
    null slot.  A real field VALUE equal to the sentinel still collides
    with NULL; a path/repo/commit containing \x00 bytes is outside any
    sane input contract, and wide_ids=True has no such caveat at all.
    (The bucket key keeps raw xxhash64: bucket collisions are by-design
    harmless — pmod(n_buckets) collapses everything anyway.)"""
    r = with_content_sha(repos)
    if wide_ids:
        doc_id = F.md5(F.to_json(
            F.struct("repo", "path", "commit"),
            {"ignoreNullFields": "false"}))
    else:
        null_s = "\x00<NULL>\x00"
        doc_id = F.xxhash64(
            F.coalesce("repo", F.lit(null_s)),
            F.coalesce("path", F.lit(null_s)),
            F.coalesce("commit", F.lit(null_s)))
    r = r.withColumn("doc_id", doc_id).withColumn(
        "bucket",
        F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(n_buckets)).cast("int"),
    )
    return r


def run_kg_pipeline(
    spark: SparkSession,
    repos: DataFrame,
    out_dir: str,
    run_id: str = "run-1",
    n_buckets: int = 8,
    resume: bool = True,
    exact_parity: bool = True,
    wide_ids: bool = False,
    files_per_bucket: int | str = "auto",
) -> dict:
    """Run (or resume) the full pipeline; returns summary counters.

    exact_parity=True routes extraction through the fused Arrow path
    (Python-re semantics on arbitrary unicode); False uses the pure-JVM
    window path (identical output on ASCII corpora, higher throughput).
    wide_ids=True uses 128-bit doc ids (see prepare_input — the 10^12-file
    collision guard).
    files_per_bucket: write-parallelism multiplier for the bucketed sinks
    (see _dyn_overwrite) — 1 keeps the one-file-per-bucket layout;
    "auto" (the default) sizes it so write tasks ~= 4x the cluster's
    default parallelism, the repo's JVM-stage partitioning rule.  The
    isolated 38.9M-row write A/B (scripts/ab_relations_write.py, 1M
    files) showed the one-file-per-bucket write is straggler-bound at
    n_buckets tasks: 17.6-43 s at 32 tasks vs 7.6-8.6 s at 128 on the
    same input and burns — task granularity, not IO bandwidth, is the
    cap.  Row content is identical under every setting.

    The summary holds the stage totals (``stages``), the manifest row
    count, and per stage its wall seconds (``stage_walls``) and its Janino
    compilations of generated code (``stage_compiles``; near zero once the
    session has run the same plans).  The compile count is read from a
    JVM-wide metric, so another session running concurrently in the same
    JVM adds its compilations to it.
    """
    fpb = (max(1, 4 * spark.sparkContext.defaultParallelism // n_buckets)
           if files_per_bucket == "auto" else int(files_per_bucket))
    manifest_path = f"{out_dir}/manifest"
    src = prepare_input(repos, n_buckets, wide_ids=wide_ids).persist()
    summary: dict = {"run_id": run_id, "stages": {}, "stage_walls": {},
                     "stage_compiles": {}, "manifest": 0}
    written: dict[str, DataFrame] = {}  # tables written in this run

    def table(name: str) -> DataFrame:
        if name in written:
            return written[name]
        return spark.read.parquet(f"{out_dir}/{name}")

    def stage(name: str, out_table: str, build) -> None:
        """done -> write -> verify -> append for one stage.  ``build``
        maps the pending buckets to (frame to write, stage input)."""
        rows = mf.done_buckets(spark, manifest_path, run_id, name)
        done = dict(rows) if resume else {}
        pending = sorted(set(range(n_buckets)) - done.keys())
        summary["manifest"] += len(rows)
        summary["stages"][out_table] = sum(done.values())
        if not pending:
            return
        out, inp = build(pending)
        path = f"{out_dir}/{out_table}"
        _dyn_overwrite(out, path, files_per_bucket=fpb, n_buckets=n_buckets)
        written[out_table] = _read_back(spark, path, out)
        rows_in, rows_out, sha_ok = verify_buckets(
            name, written[out_table], inp, pending)
        new = mf.stage_counters(run_id, name, rows_in, rows_out, sha_ok)
        mf.append_rows(spark, manifest_path, new)
        summary["manifest"] += len(new)
        summary["stages"][out_table] += sum(rows_out.values())

    def build_mentions(pending):
        part = src.where(F.col("bucket").isin(pending))
        meta = ["bucket", "repo", "path", "commit", "lang"]
        if not exact_parity:
            return spans.mentions(part, text_col="content", keep_cols=[
                "doc_id", *meta, "content_sha"]), part
        # meta rides through the Arrow crossing (keep_cols) — the old
        # join-back of the mention stream to a per-doc meta projection
        # was a corpus-sized shuffle on both sides at scale
        return spans.extract_mentions_arrow(
            part, text_col="content", id_col="doc_id",
            sha_col="content_sha", keep_cols=meta), part

    def build_linked(pending):
        part = table("mentions").where(F.col("bucket").isin(pending))
        return link_mentions(part, spark, text_col="text"), part

    def build_graph(pending):
        linked_df = table("linked")
        # the (cui -> canonical_id) map, a distinct + join, is referenced
        # five times by the entities and relations plans: write it once
        # next to the connected-components rounds
        canon = canonical_entities(
            linked_df, spark, checkpoint_dir=f"{out_dir}/cc_rounds")
        canon_path = f"{out_dir}/cc_rounds/canonical"
        canon.write.mode("overwrite").parquet(canon_path)
        canon = _read_back(spark, canon_path, canon)
        lm = linked_df.join(canon, "cui")
        # the map and the entities are global; the triples read only the
        # pending buckets, so a resume rewrites no done relations bucket
        in_pending = F.col("bucket").isin(pending)
        lm_pending = lm.where(in_pending)
        # entities table: canonical id, surface stats (salted: hot surfaces)
        ent_counts = salted_counts(lm, "canonical_id").withColumnRenamed(
            "n", "n_mentions"
        )
        entities = (
            lm.groupBy("canonical_id")
            .agg(
                F.min("cui").alias("cui"),
                # deterministic across runs/retries (resume invariant):
                # most frequent type, ties broken by lowest value
                F.mode("type", True).alias("entity_type"),
                F.min("text").alias("canonical_text"),
                F.round(F.avg("link_score"), 6).alias("avg_link_score"),
            )
            .join(ent_counts, "canonical_id")
        )
        entities.write.mode("overwrite").parquet(f"{out_dir}/entities")
        written["entities"] = _read_back(
            spark, f"{out_dir}/entities", entities)

        docs_toks = spans.doc_tokens(
            src.where(in_pending).select(
                "doc_id", "bucket", "content_sha",
                F.col("content").alias("text"))
        ).select("doc_id", "bucket", "content_sha", "tokens")
        trip = make_triples(
            docs_toks,
            lm_pending.select("doc_id", "text", "type",
                              "start_position", "end_position"),
            scope_cols=["doc_id"],
        )
        # re-attach canonical ids + sha: mention starts are unique per doc
        # (span merge emits non-overlapping spans), so ONE per-doc
        # (start -> canonical_id) map, carrying the doc's bucket and
        # content_sha (constant per doc), joins the triple stream once on
        # doc_id and resolves both endpoints with element_at.  The largest
        # stream shuffles once: no second (doc_id, start) equi-join and no
        # corpus-sized join back to src.  Per-(doc, start) min first: under
        # a 64-bit doc_id collision two documents share a group, and a
        # duplicate start key would be a stage-killing DUPLICATED_MAP_KEY;
        # the min degrades to the documented cross-wire (wide_ids=True
        # avoids collisions entirely)
        pos_entries = lm_pending.groupBy("doc_id", "start_position").agg(
            F.min("canonical_id").alias("_cid"),
            F.min("bucket").alias("_bkt"),
            F.min("content_sha").alias("_sha"))
        pos_map = pos_entries.groupBy("doc_id").agg(
            F.map_from_entries(
                F.collect_list(F.struct("start_position", "_cid"))
            ).alias("_cmap"),
            F.min("_bkt").alias("bucket"),
            F.min("_sha").alias("content_sha"),
        )
        rel = (
            trip
            .join(pos_map, "doc_id")
            .withColumn("subj_cui", F.element_at("_cmap", F.col("subj_start")))
            .withColumn("obj_cui", F.element_at("_cmap", F.col("obj_start")))
            .select(
                "subj_cui", "pred", "obj_cui", "subj_text", "obj_text",
                "subj_type", "obj_type", "doc_id", "content_sha", "bucket",
            )
        )
        return rel, linked_df

    try:
        for name, out_table, build in (
                ("mentions", "mentions", build_mentions),
                ("linked", "linked", build_linked),
                ("graph", "relations", build_graph)):
            t0, c0 = time.time(), codegen_compiles(spark)
            stage(name, out_table, build)
            if name == "graph":
                summary["stages"]["entities"] = table("entities").count()
            summary["stage_walls"][name] = round(time.time() - t0, 2)
            summary["stage_compiles"][name] = codegen_compiles(spark) - c0
    finally:
        src.unpersist()
    return summary
