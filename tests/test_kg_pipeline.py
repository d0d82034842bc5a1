"""End-to-end KG pipeline tests: sha invariant, manifest lineage, resume
(SURVEY.md §5.2.5), and connected-components correctness vs union-find."""

import random

import pytest
from pyspark.sql import functions as F

from biomedical_ner_spark.operators.canonicalize import connected_components
from biomedical_ner_spark.plans import manifest as mf
from biomedical_ner_spark.plans.kg_pipeline import prepare_input, run_kg_pipeline
from biomedical_ner_spark.session import codegen_compiles
from biomedical_ner_spark.sources.repos import synthesize_repos


@pytest.fixture(scope="module")
def repos(spark):
    return synthesize_repos(spark, n_files=300, seed=42)


_OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"


def _count_jobs(spark, group, fn):
    """(fn(), number of Spark jobs fn submitted), counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def built(spark, repos, tmp_path_factory):
    """One fresh 4-bucket build of the 300-file corpus and a no-op resume
    of it, each under its own job group, with the session's partition
    overwrite mode read around the build."""
    out = str(tmp_path_factory.mktemp("kg_out"))
    conf_before = spark.conf.get(_OVERWRITE_MODE)
    spark.conf.set(_OVERWRITE_MODE, "static")
    try:
        summary, jobs = _count_jobs(
            spark, "kg_fresh",
            lambda: run_kg_pipeline(spark, repos, out, run_id="t1",
                                    n_buckets=4))
        conf_after = spark.conf.get(_OVERWRITE_MODE)
    finally:
        spark.conf.set(_OVERWRITE_MODE, conf_before)
    resumed, resume_jobs = _count_jobs(
        spark, "kg_noop_resume",
        lambda: run_kg_pipeline(spark, repos, out, run_id="t1", n_buckets=4))
    return {"out": out, "summary": summary, "jobs": jobs,
            "resumed": resumed, "resume_jobs": resume_jobs,
            "conf_after": conf_after}


def _assert_same_tables(spark, out_a, out_b, tables):
    """Each table holds the same columns and the same multiset of rows in
    both output directories."""
    for table in tables:
        a = spark.read.parquet(f"{out_a}/{table}")
        b = spark.read.parquet(f"{out_b}/{table}")
        cols = sorted(a.columns)
        assert sorted(b.columns) == cols, table
        assert a.count() == b.count(), table
        assert a.select(cols).exceptAll(b.select(cols)).count() == 0, table
        assert b.select(cols).exceptAll(a.select(cols)).count() == 0, table


def _table_counts(spark, out):
    return {t: spark.read.parquet(f"{out}/{t}").count()
            for t in ("mentions", "linked", "relations", "entities")}


def test_pipeline_runs_and_sha_invariant(spark, repos, built):
    out, summary = built["out"], built["summary"]
    assert summary["stages"]["mentions"] > 0
    assert summary["stages"]["relations"] > 0
    assert summary["stages"]["entities"] > 0

    # per-row sha invariant: every relation's content_sha equals the sha256
    # of its source document content
    src = prepare_input(repos, 4).select(
        "doc_id", F.col("content_sha").alias("src_sha")
    )
    rel = spark.read.parquet(f"{out}/relations")
    joined = rel.join(src, "doc_id")
    assert joined.where(F.col("content_sha") != F.col("src_sha")).count() == 0
    # manifest: all stage/bucket cells present and sha_ok
    m = mf.read_manifest(spark, f"{out}/manifest")
    assert m.where(~F.col("sha_ok")).count() == 0
    assert m.select("stage").distinct().count() == 3
    assert m.count() == 12  # 3 stages x 4 buckets
    # the totals come from the verification and the manifest, not from a
    # re-count, and must still equal the tables; the no-op resume takes
    # them from the manifest rows alone
    counts = _table_counts(spark, out)
    assert summary["stages"] == counts
    assert built["resumed"]["stages"] == counts
    assert summary["manifest"] == built["resumed"]["manifest"] == 12


def test_pipeline_leaves_session_overwrite_mode_alone(built):
    """Dynamic partition overwrite is a writer option: a session-wide
    setting would turn every later partitioned overwrite in the session
    into a per-partition one."""
    assert built["conf_after"] == "static"


def test_pipeline_job_counts(built):
    """Driver round-trips per run, counted through statusTracker, with a
    few jobs of headroom.  Measured on local[8]: 48 jobs for the fresh
    build (79 when every stage re-counted its buckets, ran a three-job
    sha anti-join and re-read the totals) and 6 for the no-op resume
    (was 24): three manifest reads and the entities count."""
    assert 0 < built["jobs"] <= 51, built["jobs"]
    assert 0 < built["resume_jobs"] <= 8, built["resume_jobs"]


def _reference_manifest(spark, repos, out):
    """The per-bucket counts and sha anti-joins the pipeline ran before it
    had one verification action per stage, recomputed from the written
    tables."""
    def by_bucket(df):
        return {r.bucket: r.n for r in
                df.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
                .collect()}

    def foreign_buckets(df, shas):
        bad = df.select("bucket", "content_sha").distinct().join(
            shas.select("content_sha").distinct(), "content_sha",
            "left_anti")
        return {r.bucket for r in bad.select("bucket").distinct().collect()}

    src = prepare_input(repos, 4)
    tables = {t: spark.read.parquet(f"{out}/{t}")
              for t in ("mentions", "linked", "relations")}
    stages = {
        "mentions": (src, tables["mentions"]),
        "linked": (tables["mentions"], tables["linked"]),
        "graph": (tables["linked"], tables["relations"]),
    }
    ref = {}
    for stage, (inp, written) in stages.items():
        n_in, n_out = by_bucket(inp), by_bucket(written)
        bad = foreign_buckets(written, src)
        for b in range(4):
            ok = (n_in.get(b, 0) == n_out.get(b, 0) if stage == "linked"
                  else b not in bad)
            ref[(stage, b)] = (n_in.get(b, 0), n_out.get(b, 0), ok)
    return ref


def test_manifest_equals_reference_counts(spark, repos, built):
    man = mf.read_manifest(spark, f"{built['out']}/manifest").collect()
    got = {(r.stage, r.bucket): (r.rows_in, r.rows_out, r.sha_ok)
           for r in man}
    assert got == _reference_manifest(spark, repos, built["out"])


def _tampered_sink(spark, df, path):
    df.write.partitionBy("bucket").parquet(path)
    return spark.read.parquet(path)


def test_verify_buckets_foreign_sha_fails_only_its_bucket(
        spark, built, tmp_path):
    from biomedical_ner_spark.plans.kg_pipeline import verify_buckets

    mentions = spark.read.parquet(f"{built['out']}/mentions")
    k = 2
    first = mentions.where(F.col("bucket") == k).limit(1)
    forged = first.withColumn("content_sha", F.lit("f" * 64))
    sink = _tampered_sink(
        spark, mentions.unionByName(forged), str(tmp_path / "mentions"))
    src = spark.read.parquet(f"{built['out']}/mentions")
    rows_in, rows_out, sha_ok = verify_buckets(
        "mentions", sink, src, [0, 1, 2, 3])
    assert sha_ok == {0: True, 1: True, 2: False, 3: True}
    assert rows_out[k] == rows_in[k] + 1


def test_verify_buckets_dropped_linked_row(spark, built, tmp_path):
    from biomedical_ner_spark.plans.kg_pipeline import verify_buckets

    linked = spark.read.parquet(f"{built['out']}/linked")
    mentions = spark.read.parquet(f"{built['out']}/mentions")
    k = 1
    victim = linked.where(F.col("bucket") == k).limit(1)
    sink = _tampered_sink(
        spark, linked.exceptAll(victim), str(tmp_path / "linked"))
    rows_in, rows_out, sha_ok = verify_buckets(
        "linked", sink, mentions, [0, 1, 2, 3])
    assert rows_in[k] == rows_out[k] + 1
    assert sha_ok == {0: True, 1: False, 2: True, 3: True}


def test_verify_buckets_empty_pending_bucket_gets_row(
        spark, built, tmp_path):
    from biomedical_ner_spark.plans.kg_pipeline import verify_buckets

    mentions = spark.read.parquet(f"{built['out']}/mentions")
    sink = _tampered_sink(
        spark, mentions.where(F.col("bucket") != 3),
        str(tmp_path / "mentions"))
    src = spark.read.parquet(f"{built['out']}/mentions")
    rows_in, rows_out, sha_ok = verify_buckets(
        "graph", sink, src.where(F.col("bucket") != 3), [0, 3, 7])
    assert set(rows_in) == set(rows_out) == set(sha_ok) == {0, 3, 7}
    assert rows_in[0] == rows_out[0] > 0
    assert (rows_in[3], rows_out[3], sha_ok[3]) == (0, 0, True)
    assert (rows_in[7], rows_out[7], sha_ok[7]) == (0, 0, True)


def test_resume_false_twice_totals_equal_table_counts(
        spark, repos, tmp_path_factory):
    """resume=False into a reused directory appends a second manifest row
    per bucket: the totals must still equal the tables, and a later
    resume=True must take each done bucket's rows_out once.

    The second run repeats the first one's plans, so the session's codegen
    cache must serve it: at Spark's default of 100 entries it recompiled
    most of its generated classes (179 of them on local[8])."""
    out = str(tmp_path_factory.mktemp("kg_rerun"))
    for n in (1, 2):
        c0 = codegen_compiles(spark)
        s = run_kg_pipeline(spark, repos, out, run_id="rr", n_buckets=4,
                            resume=False)
        compiles = codegen_compiles(spark) - c0
        assert s["stages"] == _table_counts(spark, out)
        assert s["manifest"] == 12 * n
        assert set(s["stage_compiles"]) == {"mentions", "linked", "graph"}
        assert sum(s["stage_compiles"].values()) <= compiles
    assert compiles <= 20, compiles
    resumed = run_kg_pipeline(spark, repos, out, run_id="rr", n_buckets=4)
    assert resumed["stages"] == s["stages"]
    assert resumed["manifest"] == mf.read_manifest(
        spark, f"{out}/manifest").count() == 24


def test_failed_stage_releases_cached_frames(spark, monkeypatch,
                                             tmp_path_factory):
    """A stage that raises must not leave the corpus cached."""
    from biomedical_ner_spark.plans import kg_pipeline

    def boom(*args, **kwargs):
        raise RuntimeError("link stage failed")

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    monkeypatch.setattr(kg_pipeline, "link_mentions", boom)
    out = str(tmp_path_factory.mktemp("kg_fail"))
    with pytest.raises(RuntimeError, match="link stage failed"):
        run_kg_pipeline(spark, synthesize_repos(spark, n_files=20, seed=3),
                        out, n_buckets=2)
    # stage 1 ran, so the corpus was materialized in the cache
    assert mf.read_manifest(spark, f"{out}/manifest").count() == 2
    assert jsc.getPersistentRDDs().size() == before


@pytest.mark.parametrize("rows, schema", [
    ([], "a STRING, b BIGINT"),
    ([("x", None, [1.5, None]), (None, 2**40, None), ("z", -1, [])],
     "a STRING, b BIGINT, v ARRAY<FLOAT>"),
])
def test_driver_frame_matches_create_dataframe(spark, rows, schema):
    from biomedical_ner_spark.session import driver_frame

    got = driver_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    # a JVM-side local relation: no Python RDD behind the frame
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation"), plan


def test_pipeline_resume_produces_identical_output(spark, repos, built,
                                                   tmp_path_factory):
    out_full = built["out"]

    # simulate a crash after the mentions stage of buckets {0,1}: run the
    # mentions stage only for those buckets by pre-seeding the manifest of a
    # fresh dir with a partial run, then resume
    out_part = str(tmp_path_factory.mktemp("kg_part"))
    src = prepare_input(repos, 4)
    from biomedical_ner_spark.operators import spans

    part = src.where(F.col("bucket").isin([0, 1]))
    m = spans.extract_mentions_arrow(
        part, text_col="content", id_col="doc_id", sha_col="content_sha"
    ).join(src.select("doc_id", "bucket", "repo", "path", "commit", "lang"),
           "doc_id")
    m.write.mode("overwrite").option("partitionOverwriteMode", "dynamic") \
        .partitionBy("bucket").parquet(f"{out_part}/mentions")
    mf.append_rows(
        spark, f"{out_part}/manifest",
        mf.stage_counters("r", "mentions", {0: 1, 1: 1}, {0: 1, 1: 1},
                          {0: True, 1: True}),
    )
    # resume: completes buckets 2,3 for mentions + all later stages
    run_kg_pipeline(spark, repos, out_part, run_id="r", n_buckets=4)

    _assert_same_tables(spark, out_full, out_part, ("relations", "entities"))

    # no duplicate manifest cells for completed buckets
    man = mf.read_manifest(spark, f"{out_part}/manifest")
    dup = (
        man.groupBy("run_id", "stage", "bucket")
        .count().where(F.col("count") > 1)
    )
    assert dup.count() == 0


def _bucket_files(path):
    """{bucket dir: its file names} of a partitioned table; a rewritten
    bucket gets new names (each write job tags its files with its id)."""
    import os

    return {d: set(os.listdir(os.path.join(path, d)))
            for d in os.listdir(path) if d.startswith("bucket=")}


def test_graph_resume_rewrites_only_pending_buckets(
        spark, repos, built, tmp_path_factory):
    """A run killed during the graph stage: buckets 0 and 1 have their
    graph manifest rows, 2 and 3 do not.  The resume must leave the done
    relations buckets' files alone, rewrite the pending ones, and end
    with the fresh build's relations and entities."""
    import os
    import shutil

    import pyarrow.compute as pc
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    out = str(tmp_path_factory.mktemp("kg_graph_part") / "out")
    shutil.copytree(built["out"], out)
    man_dir = f"{out}/manifest"
    man = ds.dataset(man_dir, format="parquet").to_table()
    killed = pc.and_(pc.equal(man["stage"], "graph"),
                     pc.greater_equal(man["bucket"], 2))
    shutil.rmtree(man_dir)
    os.makedirs(man_dir)
    pq.write_table(man.filter(pc.invert(killed)),
                   f"{man_dir}/part-00000.parquet")
    before = _bucket_files(f"{out}/relations")

    run_kg_pipeline(spark, repos, out, run_id="t1", n_buckets=4)

    after = _bucket_files(f"{out}/relations")
    assert set(after) == set(before)
    for b in ("bucket=0", "bucket=1"):
        assert after[b] == before[b], b
    for b in ("bucket=2", "bucket=3"):
        assert after[b].isdisjoint(before[b]), b
    _assert_same_tables(spark, built["out"], out, ("relations", "entities"))


def test_connected_components_vs_union_find(spark):
    rng = random.Random(7)
    nodes = [f"n{i}" for i in range(60)]
    edges = set()
    for _ in range(70):
        a, b = rng.sample(nodes, 2)
        edges.add((min(a, b), max(a, b)))

    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    want = {}
    for n in nodes:
        r = find(n)
        want.setdefault(r, set()).add(n)
    # canonical label = min member
    want_label = {n: min(members) for members in want.values() for n in members}

    edf = spark.createDataFrame(sorted(edges), "src STRING, dst STRING")
    touched = {n for e in edges for n in e}
    # both physical forms must match the oracle: the size-gated driver
    # union-find (default for small graphs) AND the distributed star loop
    for kw in ({}, {"driver_max_edges": 0}):
        comp = connected_components(edf, spark, **kw)
        got = {r.node: r.component for r in comp.collect()}
        assert set(got) == touched, kw
        for n in touched:
            assert got[n] == want_label[n], (n, kw)


def test_pipeline_resume_overwrites_partial_bucket_writes(
        spark, repos, built, tmp_path_factory):
    """Mid-WRITE crash: a bucket directory containing garbage partial
    parquet from a killed task, with the bucket NOT recorded done in the
    manifest, must be replaced wholesale on resume (dynamic partition
    overwrite is per-bucket idempotent) and the final tables must equal a
    clean run's."""
    import os

    out_full = built["out"]

    out_crash = str(tmp_path_factory.mktemp("kg_crash"))
    src = prepare_input(repos, 4)
    from biomedical_ner_spark.operators import spans

    # complete buckets 0,1 properly (manifest rows recorded)...
    part = src.where(F.col("bucket").isin([0, 1]))
    m = spans.extract_mentions_arrow(
        part, text_col="content", id_col="doc_id", sha_col="content_sha"
    ).join(src.select("doc_id", "bucket", "repo", "path", "commit", "lang"),
           "doc_id")
    m.write.mode("overwrite").option("partitionOverwriteMode", "dynamic") \
        .partitionBy("bucket").parquet(f"{out_crash}/mentions")
    mf.append_rows(
        spark, f"{out_crash}/manifest",
        mf.stage_counters("r", "mentions", {0: 1, 1: 1}, {0: 1, 1: 1},
                          {0: True, 1: True}),
    )
    # ...then simulate a crash halfway through bucket 2's write: write
    # GARBAGE rows (wrong mentions) into its partition dir, no manifest row
    garbage = m.limit(7).withColumn("bucket", F.lit(2))
    garbage.write.mode("overwrite") \
        .option("partitionOverwriteMode", "dynamic") \
        .partitionBy("bucket").parquet(f"{out_crash}/mentions")
    assert os.path.isdir(f"{out_crash}/mentions/bucket=2")

    run_kg_pipeline(spark, repos, out_crash, run_id="r", n_buckets=4)

    _assert_same_tables(spark, out_full, out_crash,
                        ("mentions", "relations", "entities"))


def test_py_files_packaging_and_spark_submit(tmp_path):
    """North-star packaging: build the --py-files zip, then run the real
    `spark-submit --py-files <zip> scripts/kg_job.py` in a clean cwd (no
    repo checkout on sys.path) and require the manifest summary line."""
    import json
    import subprocess
    import sys
    import zipfile

    sys.path.insert(0, "/root/repo/scripts")
    from package_pyfiles import build

    zp = str(tmp_path / "bns.zip")
    build(zp)
    names = zipfile.ZipFile(zp).namelist()
    assert "biomedical_ner_spark/__init__.py" in names
    assert "biomedical_ner_spark/plans/kg_pipeline.py" in names
    assert not any(n.endswith(".pyc") for n in names)

    # import the package from the zip alone (what executors do)
    probe = subprocess.run(
        [sys.executable, "-c",
         "import sys; sys.path.insert(0, sys.argv[1]);"
         "from biomedical_ner_spark.core.oracle import tokenize_text;"
         "print(tokenize_text('IL-2 gene!'))", zp],
        capture_output=True, text=True, timeout=60, cwd=str(tmp_path))
    assert probe.returncode == 0, probe.stderr
    assert "['IL-2', 'gene', '!']" in probe.stdout

    out = subprocess.run(
        ["spark-submit", "--master", "local[2]",
         "--conf", "spark.sql.shuffle.partitions=4",
         "--conf", "spark.ui.enabled=false",
         "--py-files", zp, "/root/repo/scripts/kg_job.py",
         "--input", "synth:60", "--output", str(tmp_path / "kg_out"),
         "--buckets", "2"],
        capture_output=True, text=True, timeout=420, cwd=str(tmp_path))
    assert out.returncode == 0, out.stderr[-3000:]
    line = [l for l in out.stdout.splitlines() if '"kg_job": "ok"' in l]
    assert line, out.stdout[-2000:]
    summary = json.loads(line[0])
    assert summary["kg_job"] == "ok" and len(summary) > 1, summary


def test_wide_ids_pipeline_same_graph(spark, tmp_path_factory):
    """wide_ids=True (128-bit md5 doc ids — the 10^12-file collision
    guard) must produce the same mention/relation/entity counts as the
    64-bit default: ids only key the joins, never the content."""
    from biomedical_ner_spark.plans.kg_pipeline import run_kg_pipeline
    from biomedical_ner_spark.sources.repos import synthesize_repos

    repos = synthesize_repos(spark, 200, seed=5)
    out_a = str(tmp_path_factory.mktemp("kg_narrow"))
    out_b = str(tmp_path_factory.mktemp("kg_wide"))
    a = run_kg_pipeline(spark, repos, out_a, n_buckets=4)
    b = run_kg_pipeline(spark, repos, out_b, n_buckets=4, wide_ids=True)
    assert a["stages"] == b["stages"], (a["stages"], b["stages"])
    wide = spark.read.parquet(f"{out_b}/mentions")
    assert dict(wide.dtypes)["doc_id"] == "string"
    assert wide.select("doc_id").first()[0] is not None


def test_wide_ids_json_framing_no_field_boundary_or_null_collisions(spark):
    """The 128-bit doc_id hashes the JSON of (repo, path, commit) with
    nulls kept: shifted field boundaries ('ab'/'c' vs 'a'/'bc'), a
    separator-looking byte inside a field, and NULL-vs-empty patterns
    must all produce distinct ids (concat-style keys collide on these,
    structurally defeating the collision guard)."""
    from biomedical_ner_spark.plans.kg_pipeline import prepare_input

    rows = [
        ("ab", "c", "x", "py", "t1"),
        ("a", "bc", "x", "py", "t2"),
        ("a", "b\x1fc", "x", "py", "t3"),   # separator byte inside field
        (None, "bc", "x", "py", "t4"),
        ("", "bc", "x", "py", "t5"),        # NULL vs empty string
        ("bc", None, "x", "py", "t6"),      # NULL in a different slot
    ]
    df = spark.createDataFrame(
        rows, "repo STRING, path STRING, commit STRING, lang STRING,"
              " content STRING")
    ids = [r.doc_id for r in
           prepare_input(df, n_buckets=4, wide_ids=True).collect()]
    assert len(set(ids)) == len(rows), ids
    # the default 64-bit branch must also keep NULL-position swaps
    # distinct (Spark's xxhash64 skips null children, so unsentineled
    # fields would make rows t4 and t6 collide) while non-NULL rows keep
    # their historical hashes (sentinel only fills the null slot)
    ids64 = [r.doc_id for r in
             prepare_input(df, n_buckets=4, wide_ids=False).collect()]
    assert len(set(ids64)) == len(rows), ids64
    from pyspark.sql import functions as F

    legacy = [r.h for r in df.where(
        F.col("repo").isNotNull() & F.col("path").isNotNull()
    ).select(F.xxhash64("repo", "path", "commit").alias("h")).collect()]
    assert set(legacy) <= set(ids64)


def test_synthesize_repos_sql_deterministic_and_pool_shaped(spark):
    """The distributed (expression-only) synthesizer must be independent
    of partitioning/order (xxhash64-derived decisions) and draw from the
    same sentence pool / per-file shape as the sequential generator."""
    from biomedical_ner_spark.sources.repos import (
        _SENTENCE_POOL,
        synthesize_repos_sql,
    )

    df = synthesize_repos_sql(spark, 400, seed=99)
    a = sorted((r.repo, r.path, r.commit, r.lang, r.content)
               for r in df.collect())
    b = sorted((r.repo, r.path, r.commit, r.lang, r.content)
               for r in synthesize_repos_sql(spark, 400, seed=99)
               .repartition(13).collect())
    assert a == b
    pool = set(_SENTENCE_POOL)
    for _, _, _, _, content in a:
        sents = content.split(". ")
        assert 2 <= len(sents) <= 6
        assert all(s in pool for s in sents), sents


def test_empty_buckets_get_manifest_rows_and_resume_noop(spark, tmp_path_factory):
    """A bucket with no documents (or no rows at a later stage) must still
    receive its manifest row — otherwise it stays 'pending' forever and
    every resume reprocesses it.  3 docs over 8 buckets guarantees empty
    buckets; both runs must agree and the second must append nothing."""
    import biomedical_ner_spark.plans.manifest as mf
    from biomedical_ner_spark.plans.kg_pipeline import run_kg_pipeline

    out = str(tmp_path_factory.mktemp("kg_empty_buckets"))
    repos = synthesize_repos(spark, n_files=3, seed=11)
    run_kg_pipeline(spark, repos, out, n_buckets=8)
    man = mf.read_manifest(spark, f"{out}/manifest")
    per_stage = {r.stage: r.n for r in man.groupBy("stage").count()
                 .withColumnRenamed("count", "n").collect()}
    assert per_stage == {"mentions": 8, "linked": 8, "graph": 8}, per_stage
    n1 = man.count()
    run_kg_pipeline(spark, repos, out, n_buckets=8)
    assert mf.read_manifest(spark, f"{out}/manifest").count() == n1


def test_files_per_bucket_sharding_identical_output(spark, repos,
                                                    tmp_path_factory):
    """The write-parallelism knob (_dyn_overwrite files_per_bucket) must
    change ONLY the file layout: row content of every stage table is
    identical, bucket dirs (the resume granularity) are unchanged, and
    the relations buckets actually split into multiple files."""
    import glob

    out1 = str(tmp_path_factory.mktemp("kg_fpb1"))
    out3 = str(tmp_path_factory.mktemp("kg_fpb3"))
    run_kg_pipeline(spark, repos, out1, run_id="f", n_buckets=4,
                    files_per_bucket=1)
    run_kg_pipeline(spark, repos, out3, run_id="f", n_buckets=4,
                    files_per_bucket=3)

    for table in ("mentions", "linked", "relations", "entities"):
        a = spark.read.parquet(f"{out1}/{table}")
        b = spark.read.parquet(f"{out3}/{table}")
        assert a.count() == b.count()
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0

    # layout: same bucket dirs, more files inside at least one bucket
    def bucket_dirs(base):
        return sorted(
            d.rsplit("/", 1)[-1]
            for d in glob.glob(f"{base}/relations/bucket=*"))

    assert bucket_dirs(out1) == bucket_dirs(out3)
    n1 = len(glob.glob(f"{out1}/relations/bucket=*/*.parquet"))
    n3 = len(glob.glob(f"{out3}/relations/bucket=*/*.parquet"))
    assert n3 > n1

    # "auto" resolves to a valid multiplier and still resumes to a no-op
    s1 = run_kg_pipeline(spark, repos, out3, run_id="f", n_buckets=4,
                         files_per_bucket="auto")
    assert s1["stages"]["relations"] == \
        spark.read.parquet(f"{out1}/relations").count()
