"""Similarity search over embedding columns (ARRAY<FLOAT>).

Brute-force cosine top-k as the correctness baseline (oracle-checkable in
DuckDB via list_cosine_similarity), plus a random-hyperplane LSH-bucketed
variant as the scale path: each vector maps to a sign-bit bucket per table;
candidate pairs share a bucket in >=1 table, cutting the pair space from
O(n^2) to sum of per-bucket squares.

Hot-path arithmetic is BATCHED NUMPY inside Arrow-fed stages (mapInPandas /
pandas_udf): one matrix multiply per Arrow batch. A zip_with/aggregate
higher-order-function cosine is not offered: HOFs are CodegenFallback-
interpreted (~7 ms per 100-element fold measured on a 4-core x86 host) and
must never sit on a per-row hot path.

Scale design for brute_topk: the query side is bounded (n_queries) and is
collected once to the driver, shipped to executors in the UDF closure; the
candidate side streams through mapInPandas which emits only the per-batch
top-k per query (a map-side combiner — the shuffle into the final TopK
window carries O(batches * queries * k) rows, not the full pair space).
Exact: the global top-k under a total order is contained in the union of
per-batch top-k under the same order.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType
from pyspark.sql.window import Window

EPS = 1e-12  # same epsilon as the DuckDB oracles; vanishes at 6-dp rounding


# --- batched numpy hot path -------------------------------------------------

def _to_matrix(series: pd.Series) -> np.ndarray:
    return np.vstack(series.to_numpy()).astype(np.float64, copy=False)


def _cos_pd_fn(a: pd.Series, b: pd.Series) -> pd.Series:
    A, B = _to_matrix(a), _to_matrix(b)
    dots = np.einsum("ij,ij->i", A, B)
    na = np.sqrt(np.einsum("ij,ij->i", A, A))
    nb = np.sqrt(np.einsum("ij,ij->i", B, B))
    return pd.Series(dots / (na * nb + EPS))


def cosine_pandas(a: str, b: str) -> Column:
    """Row-wise cosine of two array columns, one numpy pass per Arrow
    batch (vs the interpreted per-row HOF fold)."""
    return F.pandas_udf(_cos_pd_fn, returnType=DoubleType())(
        F.col(a), F.col(b))


def brute_topk(embeddings: DataFrame, k: int = 5, n_queries: int = 100,
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k neighbors for the first n_queries vectors.

    Queries (bounded by n_queries) are collected once and closed over; the
    candidate stream is scored batch-at-a-time with a single (batch x dim) @
    (dim x queries) numpy matmul, and only each batch's per-query top-k
    survives into the final TopK window (map-side combine). cos is rounded
    to 6 dp BEFORE ranking so tie-breaks (c ASC) match the DuckDB oracle.
    """
    q_rows = (
        embeddings.where(F.col(id_col) < n_queries)
        .select(F.col(id_col).alias("q"), F.col(vec_col).alias("qv"))
        .collect()
    )
    schema = "q bigint, c bigint, cos double"
    if not q_rows:
        return embeddings.sparkSession.createDataFrame([], schema).withColumn(
            "rk", F.lit(1).cast("int"))
    q_ids = np.array([r["q"] for r in q_rows], dtype=np.int64)
    Q = np.array([list(r["qv"]) for r in q_rows], dtype=np.float64)
    qn = np.sqrt((Q * Q).sum(axis=1))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            c_ids = pdf["c"].to_numpy(dtype=np.int64)
            C = _to_matrix(pdf["cv"])
            cn = np.sqrt((C * C).sum(axis=1))
            S = np.round((C @ Q.T) / (np.outer(cn, qn) + EPS), 6)
            outs = []
            for j in range(len(q_ids)):
                keep = np.nonzero(c_ids != q_ids[j])[0]
                if keep.size == 0:
                    continue
                order = np.lexsort((c_ids[keep], -S[keep, j]))
                take = keep[order[:k]]
                outs.append(pd.DataFrame({
                    "q": np.full(take.size, q_ids[j], dtype=np.int64),
                    "c": c_ids[take],
                    "cos": S[take, j],
                }))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    cand = embeddings.select(F.col(id_col).alias("c"),
                             F.col(vec_col).alias("cv"))
    partial = cand.mapInPandas(gen, schema=schema)
    w = Window.partitionBy("q").orderBy(F.desc("cos"), F.asc("c"))
    return (
        partial.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("q", "c", "cos", "rk")
    )


def md5_planes(seed: int, n_tables: int, n_planes: int,
               dim: int) -> np.ndarray:
    """Deterministic hyperplanes: entry (t, p, j) is md5("plane:seed:t:p:j")
    scaled to [-1, 1) — float64, and deliberately SQL-expressible so the
    DuckDB lsh_topk oracle recomputes identical planes (uniform-cube
    directions hash fine for sign-LSH; the recall bound is pytest-asserted
    vs brute force)."""
    import hashlib

    P = np.empty((n_tables, n_planes, dim), dtype=np.float64)
    for t in range(n_tables):
        for p in range(n_planes):
            for j in range(dim):
                h = hashlib.md5(
                    f"plane:{seed}:{t}:{p}:{j}".encode()).hexdigest()
                P[t, p, j] = int(h[:8], 16) / 4294967296.0 * 2.0 - 1.0
    return P


def hyperplane_buckets(embeddings: DataFrame, n_planes: int = 8,
                       n_tables: int = 4, seed: int = 42,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       dim: int | None = None) -> DataFrame:
    """(id, table, bucket): sign-bit LSH over md5-derived hyperplanes; ALL
    tables' buckets for a batch come out of n_tables numpy matmuls inside one
    mapInPandas pass — not planes*tables interpreted HOF folds per row.

    ``dim``: pass the vector dimension when known to skip the driver-side
    first() probe job (callers bucketing two slices of one corpus need it
    once, not per call)."""
    if dim is None:
        first = embeddings.select(F.size(vec_col).alias("d")).first()
        dim = int(first.d) if first else 0
    planes = md5_planes(seed, n_tables, n_planes, dim)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["id"].to_numpy(dtype=np.int64)
            V = _to_matrix(pdf["v"])
            for t in range(n_tables):
                D = V @ planes[t].T
                buckets = ((D > 0) @ weights).astype(np.int32)
                yield pd.DataFrame({
                    "id": ids,
                    "table": np.full(ids.size, t, dtype=np.int32),
                    "bucket": buckets,
                })

    base = embeddings.select(F.col(id_col).alias("id"),
                             F.col(vec_col).alias("v"))
    return base.mapInPandas(gen, schema="id bigint, table int, bucket int")


def lsh_candidates(embeddings: DataFrame, n_planes: int = 8,
                   n_tables: int = 4, seed: int = 42,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   max_bucket: int | None = None) -> DataFrame:
    """Distinct unordered candidate pairs (a < b) sharing >=1 LSH bucket.

    Uncapped (None) path: a whole-stage-codegen SELF-JOIN on
    (table, bucket).  The bucket lineage (one cheap mapInPandas over ids
    + vectors) is evaluated once per join side, but the pair stream —
    sum of k^2/2 over buckets, ~180x the input rows at the design bucket
    size corpus/2^n_planes — comes out of codegen instead of interpreted
    in-group transform() lambdas: measured same-session at sf1.0
    (20k vecs, 3.65M candidates) join 1.3 s vs group-expand 4.0 s.
    (Contrast dedup.lsh_candidate_pairs, where the lineage per side is
    the full shingle+minhash pipeline — expensive — and the pair volume
    is comparable to the input: there the group expand wins.)

    ``max_bucket`` sheds sign-buckets above the cap; that path keeps the
    two-level bounded group expand (arrays capped, the join would not
    bound task memory).  Default None here because expected bucket size
    is corpus_size / 2^n_planes BY DESIGN — size n_planes to the corpus
    first; the scale entry point (dedup.embedding_near_dups) passes a
    finite cap."""
    from .dedup import _bounded_groups

    buckets = hyperplane_buckets(
        embeddings, n_planes, n_tables, seed, id_col, vec_col)
    if max_bucket is None:
        qa = buckets.select(F.col("id").alias("a"), "table", "bucket")
        qb = buckets.select(F.col("id").alias("b"), "table", "bucket")
        return (
            qa.join(qb, ["table", "bucket"])
            .where(F.col("a") < F.col("b"))
            .select("a", "b")
            .distinct()
        )
    grouped = _bounded_groups(
        buckets, ["table", "bucket"], "id", max_bucket
    ).withColumnRenamed("items", "ids")
    return (
        grouped.select(F.explode(F.expr(
            "flatten(transform(ids, (x, i) ->"
            " transform(slice(ids, i + 2, size(ids) - i - 1),"
            " y -> struct(x AS a, y AS b))))"
        )).alias("p"))
        .select("p.a", "p.b")
        .distinct()
    )


def train_kmeans_centroids(embeddings: DataFrame, n_centroids: int = 16,
                           n_iter: int = 5,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding"
                           ) -> list[tuple[int, list[float]]]:
    """Spherical k-means (Lloyd) coarse quantizer for IVF: deterministic
    init from the first n_centroids vectors (the sampled-centroid seed
    _centroid_ranks uses), then n_iter rounds of
    assign-by-cosine (one numpy matmul per Arrow batch, centroids in the
    closure — k x dim bounded) -> per-centroid mean (posexplode +
    groupBy(cid, dim) avg, ROUNDED to 9 dp so the result is independent
    of the distributed summation order — the subword_mean_components
    convention; one keyed shuffle) -> renormalize.  Returns the
    collected (cid, vector) list — the same bounded artifact the sampled
    path collects, so it drops into ivf_assignments/ivf_topk unchanged.

    Empty clusters keep their previous centroid (standard Lloyd fallback),
    so cid set and count are stable across iterations."""
    rows = (
        embeddings.where(F.col(id_col) < n_centroids)
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
        .collect()
    )
    if not rows:
        return []
    cents = {int(r["cid"]): np.asarray(list(r["cv"]), dtype=np.float64)
             for r in rows}
    base = embeddings.select(F.col(vec_col).alias("v"))
    for _ in range(n_iter):
        c_ids = np.array(sorted(cents), dtype=np.int64)
        C = np.vstack([cents[int(i)] for i in c_ids])
        cn = np.sqrt((C * C).sum(axis=1)) + EPS

        def assign(batches: Iterator[pd.DataFrame],
                   _C=C, _cn=cn, _ids=c_ids) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if pdf.empty:
                    continue
                V = _to_matrix(pdf["v"])
                vn = np.sqrt((V * V).sum(axis=1)) + EPS
                S = (V @ _C.T) / np.outer(vn, _cn)
                best = _ids[np.argmax(S, axis=1)]
                yield pd.DataFrame({"cid": best, "v": pdf["v"].to_numpy()})

        assigned = base.mapInPandas(
            assign, schema=f"cid bigint, v array<float>")
        means = (
            assigned.select("cid", F.posexplode("v").alias("j", "x"))
            .groupBy("cid", "j").agg(F.round(F.avg("x"), 9).alias("m"))
            .groupBy("cid")
            .agg(F.sort_array(F.collect_list(F.struct("j", "m"))).alias("e"))
            .select("cid", F.expr("transform(e, s -> s.m)").alias("mv"))
            .collect()
        )
        for r in means:
            m = np.asarray(list(r["mv"]), dtype=np.float64)
            n = np.sqrt((m * m).sum())
            if n > EPS:
                cents[int(r["cid"])] = m / n
    return [(int(i), [float(x) for x in cents[int(i)]])
            for i in sorted(cents)]


def _centroid_ranks(embeddings: DataFrame, n_centroids: int, top_n: int,
                    id_col: str, vec_col: str,
                    out_col: str = "cid",
                    centroid_src: DataFrame | None = None,
                    centroids: "list[tuple[int, list[float]]] | None" = None
                    ) -> DataFrame:
    """(id, cid) rows: each vector's top_n nearest centroids by rounded
    cosine (centroid-id tie-break), one numpy matmul per Arrow batch.
    Centroids are the first n_centroids vectors of ``centroid_src``
    (default: ``embeddings`` itself) — deterministic sampled centroids,
    the kmeans++-seed shape; a trained kmeans model drops in as the same
    collected (cid, vector) list.  Callers ranking a FILTERED frame must
    pass the full corpus as centroid_src so assignment and probing see
    identical centroids.  An explicit ``centroids`` list (e.g. from
    train_kmeans_centroids) takes precedence over both."""
    if centroids is not None:
        c_rows = [{"cid": c, "cv": v} for c, v in centroids]
    else:
        c_rows = (
            (centroid_src if centroid_src is not None else embeddings)
            .where(F.col(id_col) < n_centroids)
            .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
            .collect()
        )
    base = embeddings.select(F.col(id_col).alias("id"),
                             F.col(vec_col).alias("v"))
    if not c_rows:  # empty centroid set: no assignments, not an AxisError
        return base.select(
            "id", F.lit(None).cast("bigint").alias(out_col)).limit(0)
    c_ids = np.array([r["cid"] for r in c_rows], dtype=np.int64)
    C = np.array([list(r["cv"]) for r in c_rows], dtype=np.float64)
    cn = np.sqrt((C * C).sum(axis=1))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["id"].to_numpy(dtype=np.int64)
            V = _to_matrix(pdf["v"])
            vn = np.sqrt((V * V).sum(axis=1))
            S = np.round((V @ C.T) / (np.outer(vn, cn) + EPS), 6)
            out_id, out_cid = [], []
            for r in range(ids.size):
                order = np.lexsort((c_ids, -S[r]))[:top_n]
                out_id.append(np.full(order.size, ids[r], dtype=np.int64))
                out_cid.append(c_ids[order])
            yield pd.DataFrame({
                "id": np.concatenate(out_id),
                out_col: np.concatenate(out_cid),
            })

    return base.mapInPandas(gen, schema=f"id bigint, {out_col} bigint")


def ivf_assignments(embeddings: DataFrame, n_centroids: int = 16,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    centroids: "list | None" = None) -> DataFrame:
    """(id, cid): inverted-file coarse quantization — each vector joins
    the list of its single nearest centroid (sampled by default; pass a
    train_kmeans_centroids list for the trained quantizer)."""
    return _centroid_ranks(embeddings, n_centroids, 1, id_col, vec_col,
                           centroids=centroids)


def ivf_topk(embeddings: DataFrame, k: int = 5, n_queries: int = 100,
             n_centroids: int = 16, n_probe: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding",
             train_iters: int = 0) -> DataFrame:
    """IVF approximate top-k: queries probe their n_probe nearest inverted
    lists and score only those lists' members — the classic coarse-
    quantizer ANN shape (candidates ~ n_probe/n_centroids of the corpus).
    Fully deterministic, so the DuckDB oracle replays assignment, probing,
    and ranking exactly (train_iters=0, the oracle configuration).
    train_iters > 0 refines the quantizer with spherical k-means
    (train_kmeans_centroids) — deterministic too, but the oracle replays
    only the sampled config."""
    if train_iters > 0:
        cents = train_kmeans_centroids(
            embeddings, n_centroids, train_iters, id_col, vec_col)
    else:
        # collect the sampled centroids ONCE and hand the list to both
        # _centroid_ranks calls (assignment + probing); the former
        # centroids=None path re-collected the same 16 rows in a second
        # driver job per call
        cents = [
            (int(r["cid"]), list(r["cv"])) for r in
            embeddings.where(F.col(id_col) < n_centroids)
            .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
            .collect()
        ]
    assign = ivf_assignments(embeddings, n_centroids, id_col, vec_col,
                             centroids=cents)
    vecs = embeddings.select(F.col(id_col).alias("id"),
                             F.col(vec_col).alias("v"))
    qv = vecs.where(F.col("id") < n_queries).select(
        F.col("id").alias("q"), F.col("v").alias("qv"))
    probes = _centroid_ranks(
        embeddings.where(F.col(id_col) < n_queries),
        n_centroids, n_probe, id_col, vec_col,
        centroid_src=embeddings, centroids=cents,
    ).withColumnRenamed("id", "q")
    cand = (
        probes.join(assign.select(F.col("id").alias("c"), "cid"), "cid")
        .where(F.col("q") != F.col("c"))
        .select("q", "c")
    )
    cv = vecs.select(F.col("id").alias("c"), F.col("v").alias("cv"))
    scored = (
        cand.join(F.broadcast(qv), "q").join(cv, "c")
        .withColumn("cos", F.round(cosine_pandas("qv", "cv"), 6))
    )
    w = Window.partitionBy("q").orderBy(F.desc("cos"), F.asc("c"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("q", "c", "cos", "rk")
    )


def lsh_topk(embeddings: DataFrame, k: int = 5, n_queries: int = 100,
             n_planes: int = 8, n_tables: int = 4, seed: int = 42,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k: score only pairs sharing an LSH bucket."""
    first = embeddings.select(F.size(vec_col).alias("d")).first()
    dim = int(first.d) if first else 0
    buckets = hyperplane_buckets(
        embeddings, n_planes, n_tables, seed, id_col, vec_col, dim=dim
    )
    vecs = embeddings.select(F.col(id_col).alias("id"),
                             F.col(vec_col).alias("v"))
    # query-side buckets from a PRE-filtered frame: a filter above the
    # opaque mapInPandas cannot be pushed into it, so the former
    # buckets.where(id < n_queries) re-ran the Python bucketing pass over
    # the ENTIRE corpus just to keep n_queries rows (guide §4.1: pass
    # only what the function needs).  Bucketing is per-row deterministic,
    # so the filtered recompute is value-identical.
    qb = hyperplane_buckets(
        embeddings.where(F.col(id_col) < n_queries),
        n_planes, n_tables, seed, id_col, vec_col, dim=dim,
    ).select("table", "bucket", F.col("id").alias("q"))
    cb = buckets.select("table", "bucket", F.col("id").alias("c"))
    cand = (
        qb.join(cb, ["table", "bucket"])
        .where(F.col("q") != F.col("c"))
        .select("q", "c")
        .distinct()
    )
    qv = vecs.select(F.col("id").alias("q"), F.col("v").alias("qv"))
    cv = vecs.select(F.col("id").alias("c"), F.col("v").alias("cv"))
    scored = (
        cand.join(F.broadcast(qv), "q").join(cv, "c")
        .withColumn("cos", F.round(cosine_pandas("qv", "cv"), 6))
    )
    w = Window.partitionBy("q").orderBy(F.desc("cos"), F.asc("c"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("q", "c", "cos", "rk")
    )
