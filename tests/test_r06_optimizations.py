"""Equivalence pins for the r06 optimization restructures: each rewritten
physical form must produce byte-identical results to the pre-r06
formulation it replaced (the DuckDB oracle pins them too, but these run
the OLD Spark form directly so a drift is attributed to the rewrite, not
the oracle).  The old forms live only here, inline in their tests."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_MED


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_entity_type_counts_from_docs_matches_window_path(spark, docs_small):
    from biomedical_ner_spark.lexicon import entity_name_case_sql
    from biomedical_ner_spark.operators import spans, stats

    new = stats.entity_type_counts_from_docs(docs_small)
    # reference: materialize the window-path mention rows, count per type
    old = (
        spans.mentions(docs_small)
        .select(F.expr(entity_name_case_sql("type")).alias("entity_type"))
        .groupBy("entity_type")
        .agg(F.count(F.lit(1)).alias("n_entities"))
    )
    assert _rows(new) == _rows(old)


def test_corpus_stats_from_docs_matches_explode_path(spark):
    from biomedical_ner_spark.operators import spans, stats

    docs = spark.read.parquet(f"{SF_MED}/documents.parquet")
    tags = spans.bio_tags_exploded(docs, keep_cols=["doc_id", "lang"])
    new = stats.corpus_stats_from_docs(docs)
    # reference: per-doc counts from the exploded token stream
    tag = F.col("tag")
    per_doc = tags.groupBy("lang", "doc_id").agg(
        F.count(F.lit(1)).alias("toks"),
        F.sum(F.when(tag != "O", 1).otherwise(0)).alias("ents"),
        F.sum(F.when(tag.startswith("B-"), 1).otherwise(0)).alias("b"),
        F.sum(F.when(tag.startswith("I-"), 1).otherwise(0)).alias("i"),
        F.sum(F.when(tag == "O", 1).otherwise(0)).alias("o"),
    )
    old = stats._corpus_rollup(per_doc, "lang")
    assert new.columns == old.columns
    assert [f.dataType for f in new.schema.fields] == \
        [f.dataType for f in old.schema.fields]
    assert _rows(new) == _rows(old)


def test_corpus_stats_from_docs_drops_zero_token_docs_like_explode(spark):
    from biomedical_ner_spark.operators import stats

    docs = spark.createDataFrame(
        [(0, "en", "spark joins the table"), (1, "en", ""),
         (2, "de", "!!"), (3, "de", None)],
        "doc_id BIGINT, lang STRING, text STRING",
    )
    rows = {r.split: r.n_docs for r in
            stats.corpus_stats_from_docs(docs).collect()}
    # doc 1 (zero tokens) and doc 3 (null text) contribute no rows in the
    # exploded form; doc 2 tokenizes to two punct tokens and stays
    assert rows == {"en": 1, "de": 1}


def test_ngram_join_form_matches_bruteforce_python(spark, docs_small):
    """The r06 self-join-with-sizes + size-ratio-prefilter form against a
    literal Python set computation (threshold low enough that the ratio
    prefilter is exercised)."""
    import re

    from biomedical_ner_spark.operators import dedup

    docs = docs_small.limit(60)
    pat = re.compile(r"[A-Za-z0-9_]+(?:-[A-Za-z0-9_]+)*|[^A-Za-z0-9_ \t\n\r]")
    rows = docs.select("doc_id", "text").collect()
    sets = {}
    for r in rows:
        toks = pat.findall((r.text or "").lower())
        if len(toks) >= 3:
            sets[r.doc_id] = {
                " ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
    expect = set()
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sets[a] & sets[b])
            if inter == 0:
                continue
            j = round(inter / (len(sets[a]) + len(sets[b]) - inter), 6)
            if j >= 0.15:
                expect.add((a, b, j))
    got = {(r.a, r.b, r.jaccard) for r in
           dedup.ngram_jaccard_pairs(docs, threshold=0.15).collect()}
    assert got == expect


def test_curate_documents_chained_minby_matches_join_form(spark):
    from biomedical_ner_spark.functions.text import (
        fingerprint_expr, punct_ratio_expr, stopword_ratio_expr,
        tokenize_expr,
    )
    from biomedical_ner_spark.queries import curate_documents

    docs = spark.read.parquet(f"{SF_MED}/documents.parquet")
    toks = tokenize_expr("text")
    q = docs.select(
        "doc_id",
        F.sha2("text", 256).alias("sha"),
        fingerprint_expr(F.col("text")).alias("fp"),
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.round(punct_ratio_expr(toks), 6).alias("punct_ratio"),
        F.round(stopword_ratio_expr(toks), 6).alias("stopword_ratio"),
    )
    sha_keep = q.groupBy("sha").agg(F.min("doc_id").alias("doc_id"))
    fp_keep = q.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    old = (
        q.join(sha_keep, ["sha", "doc_id"])
        .join(fp_keep, ["fp", "doc_id"])
        .where((F.col("n_tokens") >= 10) & (F.col("punct_ratio") <= 0.3)
               & (F.col("stopword_ratio") <= 0.6))
        .select("doc_id", "n_tokens", "punct_ratio", "stopword_ratio",
                F.col("fp").alias("fingerprint"))
    )
    assert _rows(curate_documents(docs)) == _rows(old)


def test_simhash_instance_sums_match_distinct_count_weighting(spark,
                                                              docs_small):
    """One-level +-1-per-instance aggregation vs the two-level
    (doc, token)-count formulation."""
    from biomedical_ner_spark.functions.text import SQL_TOKEN_PATTERN
    from biomedical_ner_spark.operators import dedup

    toks = F.expr(
        f"regexp_extract_all(lower(text), '{SQL_TOKEN_PATTERN}', 0)")
    t = (
        docs_small.select("doc_id", F.explode(toks).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("h", F.expr(
            "cast(conv(substr(md5(token), 1, 15), 16, 10) AS BIGINT)"))
    )
    bit_sums = t.groupBy("doc_id").agg(*[
        F.sum(F.when(F.expr(f"(h >> {b}) & 1") == 1, F.col("cnt"))
              .otherwise(-F.col("cnt"))).alias(f"b{b}")
        for b in range(32)])
    fp = None
    for b in range(32):
        term = F.when(F.col(f"b{b}") > 0, F.lit(2 ** b)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    old = bit_sums.select("doc_id", fp.cast("bigint").alias("simhash"))
    assert _rows(dedup.simhash(docs_small)) == _rows(old)


def test_mentions_prefilter_matches_postfilter_window(spark, docs_small):
    """O rows dropped before vs after the running-sum window."""
    from pyspark.sql.window import Window

    from biomedical_ner_spark.operators import spans

    d = spans.doc_tags(docs_small)
    tok = d.select(
        "doc_id",
        F.posexplode(F.expr(
            "transform(tokens, (tok, i) -> named_struct("
            "'token', tok, 'tag', tags[i],"
            f"'is_start', {spans.span_start_case('tags[i]', '1', '0')}))"
        )).alias("pos", "e"),
    ).select("doc_id", "pos", "e.token", "e.tag", "e.is_start")
    w = (Window.partitionBy("doc_id").orderBy("pos")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    old = (
        tok.withColumn("span_id", F.sum("is_start").over(w))
        .filter((F.col("tag") != "O") & (F.col("span_id") > 0))
        .select("doc_id", "span_id", "pos", "token", "tag")
    )
    new = (
        tok.filter(F.col("tag") != "O")
        .withColumn("span_id", F.sum("is_start").over(w))
        .filter(F.col("span_id") > 0)
        .select("doc_id", "span_id", "pos", "token", "tag")
    )
    assert _rows(new) == _rows(old)


def test_tokens_only_stream_matches_bio_tags_tokens(spark, docs_small):
    from biomedical_ner_spark.operators import spans

    old = spans.bio_tags_exploded(docs_small).select("doc_id", "token")
    new = docs_small.select(
        "doc_id", F.explode(spans.tokens_array("text")).alias("token"))
    assert _rows(new) == _rows(old)


@pytest.mark.parametrize("n_queries", [7])
def test_lsh_topk_prefiltered_query_buckets(spark, n_queries):
    """Pre-filtering the query side before the Python bucketing pass must
    not change lsh_topk's output."""
    import numpy as np

    from biomedical_ner_spark.operators import similarity

    rng = np.random.RandomState(3)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")
    got = similarity.lsh_topk(emb, k=3, n_queries=n_queries)
    buckets = similarity.hyperplane_buckets(emb)
    qb = buckets.where(F.col("id") < n_queries).select(
        "table", "bucket", F.col("id").alias("q"))
    cb = buckets.select("table", "bucket", F.col("id").alias("c"))
    cand = (qb.join(cb, ["table", "bucket"])
            .where(F.col("q") != F.col("c")).select("q", "c").distinct())
    vecs = emb.select(F.col("vec_id").alias("id"),
                      F.col("embedding").alias("v"))
    qv = vecs.select(F.col("id").alias("q"), F.col("v").alias("qv"))
    cv = vecs.select(F.col("id").alias("c"), F.col("v").alias("cv"))
    from pyspark.sql.window import Window
    scored = (cand.join(F.broadcast(qv), "q").join(cv, "c")
              .withColumn("cos", F.round(
                  similarity.cosine_pandas("qv", "cv"), 6)))
    w = Window.partitionBy("q").orderBy(F.desc("cos"), F.asc("c"))
    old = (scored.withColumn("rk", F.row_number().over(w))
           .where(F.col("rk") <= 3).select("q", "c", "cos", "rk"))
    assert _rows(got) == _rows(old)
