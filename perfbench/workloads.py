"""The benchmark's workloads.

Each workload makes its inputs during set-up and then runs passes.  A pass
returns a `Pass`: its wall time, the rows it produced and how many of its
operations failed their output check.  In a traced run, each workload also
runs the calls that attribute its Spark work to the package's layers.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from biomedical_ner_spark import queries as Q
from biomedical_ner_spark.operators import spans
from biomedical_ner_spark.operators.canonicalize import canonical_entities
from biomedical_ner_spark.operators.linking import link_mentions
from biomedical_ner_spark.operators.triples import triples as make_triples
from biomedical_ner_spark.plans import manifest as mf
from biomedical_ner_spark.plans.kg_pipeline import (
    STAGES,
    prepare_input,
    run_kg_pipeline,
)
from biomedical_ner_spark.session import DEFAULT_SF_DIR
from biomedical_ner_spark.sources.repos import synthesize_repos_sql

from probes import JobTracer

# (package module, registry query): the leaves bench.py times after its KG
# leaves, in its order
QUERY_LEAVES = (
    ("stats", "entity_type_counts"),
    ("stats", "corpus_stats"),
    ("stats", "vocab_build"),
    ("dedup", "minhash_lsh_pairs"),
    ("dedup", "simhash"),
    ("similarity", "ann_topk"),
    ("queries", "quality_score"),
    ("similarity", "lsh_topk"),
    ("similarity", "ivf_topk"),
    ("windowed", "event_windows"),
    ("queries", "corpus_curation"),
    ("queries", "dedup_exact"),
    ("dedup", "ngram_jaccard"),
    ("dedup", "embedding_near_dups"),
    ("embeddings", "subword_vectors"),
    ("encode", "encoded_tokens"),
)

# KG layer calls the traced kg_build run makes, and the metrics each reports
KG_CALLS = {
    "spans.extract_mentions_arrow": ("wall_s", "jobs", "busy_s",
                                     "shuffle_mb", "rows"),
    "linking.link_mentions": ("wall_s", "jobs", "busy_s", "shuffle_mb",
                              "link_rate"),
    "canonicalize.canonical_entities": ("wall_s", "jobs"),
    "triples.triples": ("wall_s", "jobs", "busy_s", "shuffle_mb", "rows"),
    **{f"plans.stage.{s}": ("wall_s", "jobs") for s in STAGES},
    "plans.resume": ("wall_s", "jobs", "buckets_pending",
                     "buckets_rewritten"),
}
QUERY_METRICS = ("wall_s", "jobs", "busy_s", "shuffle_mb")

N_BUCKETS = 8
RUN_ID = "bench"
# the fixed tables one scale down, next to the sf0.1 ones
WARM_SF_DIR = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.01")


@dataclass
class Pass:
    wall_s: float
    rows: int
    ops: int
    failed: int
    parts: dict = field(default_factory=dict)  # wall of each stage or leaf


def table_hash(path: str) -> tuple[int, int]:
    """(order-independent content hash, row count) of a parquet table,
    read with pyarrow so the check submits no Spark job."""
    df = ds.dataset(path, format="parquet",
                    partitioning="hive").to_table().to_pandas()
    df = df[sorted(df.columns)]
    h = pd.util.hash_pandas_object(df, index=False).to_numpy()
    return int(h.sum(dtype=np.uint64)), len(df)


def _bucket_files(path: str) -> dict[int, frozenset[str]]:
    return {
        int(d.split("=", 1)[1]): frozenset(os.listdir(f"{path}/{d}"))
        for d in os.listdir(path) if d.startswith("bucket=")
    }


class KgBuild:
    """One fresh `run_kg_pipeline` per pass over a synthesized corpus, with
    the default Arrow extract path and 8 buckets."""

    def __init__(self, spark, work: str, seed: int, n_files: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.n_files = n_files
        self.ref: tuple | None = None
        self.snapshot: str | None = None
        self.repos = None

    def prepare(self) -> None:
        path = f"{self.work}/repos"
        synthesize_repos_sql(self.spark, self.n_files, seed=self.seed) \
            .write.parquet(path)
        self.repos = self.spark.read.parquet(path)

    def _build(self, out: str) -> dict:
        return run_kg_pipeline(self.spark, self.repos, out, run_id=RUN_ID,
                               n_buckets=N_BUCKETS)

    def _check(self, summary: dict, out: str) -> bool:
        """Stage counts and the relations hash equal the first pass's, and
        every manifest row of this run is there with sha_ok."""
        man = ds.dataset(f"{out}/manifest", format="parquet").to_table()
        man_ok = (man.num_rows == len(STAGES) * N_BUCKETS
                  and pc.all(man["sha_ok"]).as_py())
        got = (summary["stages"], table_hash(f"{out}/relations"))
        if self.ref is None:
            self.ref = got
        return man_ok and got == self.ref and got[1][1] > 0

    def warm_up(self) -> Pass:
        return self.run_pass("warmup")

    def run_pass(self, tag: str) -> Pass:
        """The first pass's output stays: the snapshot a resume restores."""
        out = f"{self.work}/{tag}"
        t0 = time.perf_counter()
        summary = self._build(out)
        wall = time.perf_counter() - t0
        ok = self._check(summary, out)
        if self.snapshot is None:
            self.snapshot = out
        else:
            shutil.rmtree(out)
        return Pass(wall, summary["stages"]["relations"], 1, int(not ok),
                    summary["stage_walls"])

    @contextmanager
    def _stage_groups(self, tracer: JobTracer):
        """Route the pipeline's jobs to one group per stage: each stage
        opens with a manifest `done_buckets` read, so switching the job
        group there splits the run exactly at the stage boundaries.  The
        closing manifest count after the graph stage lands in its group."""
        orig = mf.done_buckets

        def hooked(spark, path, run_id, stage):
            tracer.switch(f"plans.stage.{stage}")
            return orig(spark, path, run_id, stage)

        mf.done_buckets = hooked
        try:
            yield
        finally:
            mf.done_buckets = orig

    def traced(self, tracer: JobTracer) -> tuple[dict, Pass]:
        """A traced pipeline pass, one call into each KG layer's public
        function, and a resume after a simulated crash in stage 2.  Returns
        the metrics spans and job groups cannot give, and the pass."""
        out = f"{self.work}/traced"
        metrics: dict = {}
        t0 = time.time()
        with tracer.call("plans.run_kg_pipeline"), self._stage_groups(tracer):
            summary = self._build(out)
        wall = time.time() - t0
        ok = self._check(summary, out)
        start = t0
        for s in STAGES:
            w = summary["stage_walls"][s]
            tracer.spans.append({"name": f"plans.stage.{s}",
                                 "parent": "plans.run_kg_pipeline",
                                 "start": start, "end": start + w})
            start += w

        spark = self.spark
        src = prepare_input(self.repos, N_BUCKETS)
        with tracer.call("spans.extract_mentions_arrow"):
            metrics["spans.extract_mentions_arrow.rows"] = \
                spans.extract_mentions_arrow(
                    src, text_col="content", id_col="doc_id",
                    sha_col="content_sha",
                    keep_cols=["bucket", "repo", "path", "commit", "lang"],
                ).count()
        # each call reads its input from the traced pass's output: listing
        # a bucketed parquet table runs a Spark job of its own
        with tracer.call("linking.link_mentions"):
            mentions = spark.read.parquet(f"{out}/mentions")
            by = {r["linked"]: r["count"] for r in
                  link_mentions(mentions, spark, text_col="text")
                  .groupBy("linked").count().collect()}
        metrics["linking.link_mentions.link_rate"] = \
            by.get(True, 0) / max(1, sum(by.values()))
        with tracer.call("canonicalize.canonical_entities"):
            linked = spark.read.parquet(f"{out}/linked")
            canonical_entities(linked, spark,
                               checkpoint_dir=f"{self.work}/cc").count()
        toks = spans.doc_tokens(
            src.select("doc_id", F.col("content").alias("text"))
        ).select("doc_id", "tokens")
        with tracer.call("triples.triples"):
            metrics["triples.triples.rows"] = make_triples(
                toks, linked.select("doc_id", "text", "type",
                                    "start_position", "end_position"),
                scope_cols=["doc_id"]).count()
        shutil.rmtree(out)

        res_ok = self._resume(tracer, metrics)
        rows = summary["stages"]["relations"]
        return metrics, Pass(wall, rows, 2, int(not ok) + int(not res_ok))

    def _resume(self, tracer: JobTracer, metrics: dict) -> bool:
        """Restore the set-up snapshot, drop the `linked` and `graph`
        manifest rows of buckets 4-7 (a run killed during stage 2), resume,
        and require the relations and entities of the fresh build."""
        out = f"{self.work}/resume"
        shutil.copytree(self.snapshot, out)
        man_dir = f"{out}/manifest"
        man = ds.dataset(man_dir, format="parquet").to_table()
        killed = pc.and_(pc.is_in(man["stage"], pa.array(["linked", "graph"])),
                         pc.greater_equal(man["bucket"], N_BUCKETS // 2))
        man = man.filter(pc.invert(killed))
        shutil.rmtree(man_dir)
        os.makedirs(man_dir)
        pq.write_table(man, f"{man_dir}/part-00000.parquet")
        done = set(man.filter(pc.equal(man["stage"], "graph"))["bucket"]
                   .to_pylist())
        before = _bucket_files(f"{out}/relations")
        with tracer.call("plans.resume"):
            self._build(out)
        after = _bucket_files(f"{out}/relations")
        metrics["plans.resume.buckets_pending"] = N_BUCKETS - len(done)
        metrics["plans.resume.buckets_rewritten"] = sum(
            before.get(b) != after.get(b) for b in range(N_BUCKETS))
        ok = all(table_hash(f"{out}/{t}") == table_hash(f"{self.snapshot}/{t}")
                 for t in ("relations", "entities"))
        shutil.rmtree(out)
        return ok


class QuerySuite:
    """The 16 registry leaves of bench.py, each materialized with
    `.count()`, over a many-file copy of the fixed sf0.1 tables.  The
    warm-up pass runs them over the same layout of the sf0.01 tables, which
    leaves room in a run for a timed sf0.1 pass: on 2 task slots of a
    4-core host it took 28 s against 38 s for a cold sf0.1 pass, and the
    sf0.1 passes after it took 20.5-23.6 s against 19.7 s after the cold
    sf0.1 pass."""

    def __init__(self, spark, work: str, cores: int, expected: dict):
        self.spark = spark
        self.work = work
        self.cores = cores
        self.expected = expected
        self.sf = f"{work}/sf"
        self.warm_sf = f"{work}/warm_sf"

    def prepare(self) -> None:
        _many_files(DEFAULT_SF_DIR, self.sf, self.cores)
        _many_files(WARM_SF_DIR, self.warm_sf, self.cores)

    def _leaf(self, name: str, sf: str) -> int:
        return Q.queries()[name](self.spark, sf).count()

    def warm_up(self) -> Pass:
        """One pass over the sf0.01 copy.  Its counts have no reference,
        so a leaf fails only if it raises."""
        failed = 0
        parts = {}
        t0 = time.perf_counter()
        for _, name in QUERY_LEAVES:
            t_leaf = time.perf_counter()
            try:
                self._leaf(name, self.warm_sf)
            except Exception as e:  # one failed leaf must not end the pass
                print(f"{name} failed: {e!r}", file=sys.stderr, flush=True)
                failed += 1
            parts[name] = time.perf_counter() - t_leaf
        return Pass(time.perf_counter() - t0, 0, len(QUERY_LEAVES),
                    failed, parts)

    def run_pass(self, tag: str, tracer: JobTracer | None = None) -> Pass:
        rows = failed = 0
        parts = {}
        t0 = time.perf_counter()
        for module, name in QUERY_LEAVES:
            t_leaf = time.perf_counter()
            try:
                if tracer is None:
                    n = self._leaf(name, self.sf)
                else:
                    with tracer.call(f"{module}.{name}"):
                        n = self._leaf(name, self.sf)
                ok = n == self.expected[name]
            except Exception as e:  # one failed leaf must not end the pass
                print(f"{name} failed: {e!r}", file=sys.stderr, flush=True)
                n, ok = 0, False
            parts[name] = time.perf_counter() - t_leaf
            rows += n
            failed += not ok
        return Pass(time.perf_counter() - t0, rows, len(QUERY_LEAVES),
                    failed, parts)

    def traced(self, tracer: JobTracer) -> tuple[dict, Pass]:
        return {}, self.run_pass("traced", tracer=tracer)


def _many_files(src: str, dst: str, cores: int) -> None:
    """Split each table into bench.py's file counts: documents 2x cores
    (at least 32), events >= 25k rows a file, embeddings >= 250 rows a
    file; rows are dealt round-robin, as a repartition does."""
    wide = max(2 * cores, 32)
    rows_per_file = {"documents": 1, "events": 25_000, "embeddings": 250}
    for t, per in rows_per_file.items():
        table = pq.read_table(f"{src}/{t}.parquet")
        n = max(1, min(wide, table.num_rows // per))
        os.makedirs(f"{dst}/{t}.parquet")
        for k in range(n):
            pq.write_table(table.take(np.arange(k, table.num_rows, n)),
                           f"{dst}/{t}.parquet/part-{k:05d}.parquet")


def expected_counts(repo: str) -> dict:
    """sf0.1 leaf counts recorded by the round-6 bench."""
    with open(f"{repo}/BENCH_r06.json") as f:
        return json.load(f)["parsed"]["counts"]
