"""Corpus/entity statistics operators (SURVEY.md §2.4 A1-A13).

All pure DataFrame aggregations — partial/final hash aggregation, column
pruning and predicate pushdown come free from Catalyst.  Floating-point
outputs are rounded to 6 dp so the DuckDB oracle hashes match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..lexicon import entity_name_case_sql
from .splits import _bucketed_rank

# Same driver-closure posture as encode.CLOSURE_VOCAB_MAX: below this many
# dim rows the dense-id rank is assigned on the driver from ONE collected
# aggregation; above it the two-pass bucket-offset rank takes over (the
# offsets job re-evaluates the count lineage, but nothing vocabulary-sized
# ever reaches the driver).  The engine already collects the vocab at this
# size for the encode closure, so the gate adds no new driver exposure.
DRIVER_RANK_MAX = 2_000_000


def _driver_ranked_ids(spark, rows, sort_key, schema, id_from: int):
    """Dense ids for a collected, bounded dim: sort driver-side (Python
    tuple sort == Spark UTF8 binary order for strings — UTF-8 is
    code-point order-preserving) and return a local DataFrame."""
    ordered = sorted(rows, key=sort_key)
    return spark.createDataFrame(
        [(*r, i + id_from) for i, r in enumerate(ordered)], schema)


def entity_type_counts_from_docs(docs: DataFrame,
                                 text_col: str = "text") -> DataFrame:
    """A4 computed WITHOUT materializing mention rows: every mention
    corresponds to exactly one span-START token (the same is_start rule
    spans.mentions feeds its running-sum window), and the mention's type
    is that token's tag type — so the histogram is explode(start types) +
    one partially-aggregated groupBy.  Removes the doc_id exchange +
    window + per-span groupBy of the full token stream that the
    mentions-then-count formulation pays (guide §2.4); the exchange here
    carries ~|types| rows per task after map-side combine.

    Exactly equivalent to counting spans.mentions(docs) rows per type:
    mention groups (doc_id, span_id) are in bijection with is_start
    tokens (both read spans.span_start_case), and substr(elems[0].tag, 3)
    IS the start token's type (asserted by tests against the window
    path)."""
    from .spans import doc_tags, span_start_case

    d = doc_tags(docs, text_col)
    starts = d.select(F.explode(F.expr(
        "filter(transform(tags, (t, i) -> "
        f"{span_start_case('t', 'substr(t, 3)', 'NULL')}),"
        " x -> x IS NOT NULL)")).alias("type"))
    return (
        starts
        .select(F.expr(entity_name_case_sql("type")).alias("entity_type"))
        .groupBy("entity_type")
        .agg(F.count(F.lit(1)).alias("n_entities"))
    )


def tag_distribution(tags_df: DataFrame) -> DataFrame:
    """A5 — histogram of non-O tags over all tokens (app.py:857-860)."""
    return (
        tags_df.filter(~F.col("tag").isin("O", "<PAD>"))
        .groupBy("tag")
        .agg(F.count(F.lit(1)).alias("n_tokens"))
    )


def entity_length_stats(mentions_df: DataFrame) -> DataFrame:
    """A6 — per-type token-length stats (app.py:894, app.py:1250-1259).

    Uses exact percentile (not approx) so DuckDB's median agrees exactly.
    """
    m = mentions_df.withColumn("n_tokens", F.size("tokens"))
    return m.groupBy("type").agg(
        F.count(F.lit(1)).alias("n_entities"),
        F.round(F.avg("n_tokens"), 6).alias("mean_len"),
        F.round(F.expr("percentile(n_tokens, 0.5)"), 6).alias("median_len"),
        F.min("n_tokens").alias("min_len"),
        F.max("n_tokens").alias("max_len"),
    )


def distinct_types(mentions_df: DataFrame) -> DataFrame:
    """A7 — number of distinct entity types (app.py:773-774)."""
    return mentions_df.agg(
        F.countDistinct("type").alias("n_types"),
        F.count(F.lit(1)).alias("n_entities"),
    )


def vocab_build(tokens_df: DataFrame, min_freq: int = 2) -> DataFrame:
    """A1 — word vocab: lowercased tokens with freq >= min_freq, dense ids
    starting at 3 after <PAD>/<UNK>/<NUM> (utils/creation_vocabulaire.py:45-56).

    Id order: by count desc then word asc (deterministic; the reference's
    insertion order is not reproducible distributed, so the id *rule* is
    normalized — the (word, count) set is identical).

    Scale: dense ids need a global total order, but the corpus never
    funnels through one task — the two-pass bucket-offset rank
    (splits._bucketed_rank) with a bucket MONOTONE in (freq desc, word
    asc): fixed-width hex of (2^62 - freq) concatenated with the word's
    first char.  Bucket cardinality is distinct-freq x leading-char —
    metadata-scale even for 10^8-word web vocabularies — and each
    per-bucket window sorts only its own slice.
    """
    counted = (
        tokens_df.select(F.lower("token").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= min_freq)
    )
    # size-gated rank (r06): the bucket-offset path evaluates the count
    # lineage twice (offsets job + ranked job — recomputation is its
    # no-persist contract).  Below the driver-closure gate the single
    # capped collect both decides the gate and supplies the rows, so the
    # token stream is aggregated exactly once; ids are identical by the
    # same (freq desc, word asc) order.
    head = counted.limit(DRIVER_RANK_MAX + 1).collect()
    if len(head) <= DRIVER_RANK_MAX:
        return _driver_ranked_ids(
            tokens_df.sparkSession,
            [(r["word"], r["freq"]) for r in head],
            lambda r: (-r[1], r[0]),
            "word STRING, freq BIGINT, id INT", id_from=3)
    bucket = F.concat(
        F.lpad(F.hex(F.lit(2 ** 62) - F.col("freq")), 16, "0"),
        F.substring("word", 1, 1),
    )
    ranked, _ = _bucketed_rank(
        counted, bucket, [F.desc("freq"), F.asc("word")])
    return ranked.withColumn("id", (F.col("_rn") + F.lit(2)).cast("int")) \
        .drop("_rn")


def char_inventory(tokens_df: DataFrame) -> DataFrame:
    """A2 — distinct characters with dense ids from 2 (after PAD/UNK);
    ordered lexicographically (normalized from insertion order)."""
    chars = (
        tokens_df.select(F.explode(F.split("token", "")).alias("ch"))
        .filter(F.col("ch") != "")
        .distinct()
    )
    # universe is bounded (alphabet): one collect instead of the two-pass
    # rank's double evaluation of the distinct over the token stream
    head = chars.limit(DRIVER_RANK_MAX + 1).collect()
    if len(head) <= DRIVER_RANK_MAX:
        return _driver_ranked_ids(
            tokens_df.sparkSession, [(r["ch"],) for r in head],
            lambda r: r[0], "ch STRING, id INT", id_from=2)
    ranked, _ = _bucketed_rank(chars, F.col("ch"), [F.col("ch")])
    return ranked.withColumn("id", (F.col("_rn") + F.lit(1)).cast("int")) \
        .drop("_rn")


def tag_map(tags_df: DataFrame) -> DataFrame:
    """A3 — distinct tags sorted, ids from 1 after <PAD>=0
    (utils/creation_vocabulaire.py:169-174)."""
    tags = tags_df.select("tag").distinct()
    head = tags.limit(DRIVER_RANK_MAX + 1).collect()
    if len(head) <= DRIVER_RANK_MAX:
        return _driver_ranked_ids(
            tags_df.sparkSession, [(r["tag"],) for r in head],
            lambda r: r[0], "tag STRING, id INT", id_from=1)
    ranked, _ = _bucketed_rank(tags, F.col("tag"), [F.col("tag")])
    return ranked.withColumn("id", F.col("_rn").cast("int")).drop("_rn")


def corpus_stats_from_docs(docs: DataFrame, group_col: str = "lang",
                           text_col: str = "text") -> DataFrame:
    """A8 — the FULL per-split statistics grid of
    utils/fonctions.py:303-517 (analyze_dataset_statistics): doc/token/
    entity-token/BIO counts and density, sentence (= document) length
    mean/median/min/max and >100-token count, entities-per-sentence
    mean/median, zero-entity-sentence count + percentage.

    Per-doc counts are computed ARRAY-SIDE (size/filter over the per-doc
    tag array), so the exchange feeding the rollup carries ONE narrow row
    per document, not the ~50x-larger token stream (guide §2.3).
    Zero-token documents are filtered, as exploding them would."""
    from .spans import doc_tags

    d = doc_tags(docs, text_col)
    per_doc = d.where(F.size("tokens") > 0).select(
        group_col, "doc_id",
        F.size("tokens").cast("bigint").alias("toks"),
        F.expr("size(filter(tags, t -> t != 'O'))").cast("bigint")
        .alias("ents"),
        F.expr("size(filter(tags, t -> substr(t, 1, 2) = 'B-'))")
        .cast("bigint").alias("b"),
        F.expr("size(filter(tags, t -> substr(t, 1, 2) = 'I-'))")
        .cast("bigint").alias("i"),
        F.expr("size(filter(tags, t -> t = 'O'))").cast("bigint")
        .alias("o"),
    )
    return _corpus_rollup(per_doc, group_col)


def _corpus_rollup(per_doc: DataFrame, group_col: str) -> DataFrame:
    """Tiny per-split rollup of per-doc (toks, ents, b, i, o) counts;
    exact medians run over the per-doc frame (one value/doc)."""
    n_docs = F.count(F.lit(1))
    zero = F.sum(F.when(F.col("ents") == 0, 1).otherwise(0))
    return per_doc.groupBy(F.col(group_col).alias("split")).agg(
        n_docs.alias("n_docs"),
        F.sum("toks").alias("n_tokens"),
        F.sum("ents").alias("n_entity_tokens"),
        F.sum("b").alias("n_b"),
        F.sum("i").alias("n_i"),
        F.sum("o").alias("n_o"),
        F.round(F.sum("ents") / F.sum("toks"), 6).alias("entity_density"),
        F.round(F.sum("toks") / n_docs, 6).alias("sent_len_mean"),
        F.round(F.expr("percentile(toks, 0.5)"), 6).alias("sent_len_median"),
        F.min("toks").alias("sent_len_min"),
        F.max("toks").alias("sent_len_max"),
        F.sum(F.when(F.col("toks") > 100, 1).otherwise(0)).alias("n_over_100"),
        F.round(F.sum("ents") / n_docs, 6).alias("ents_per_sent_mean"),
        F.round(F.expr("percentile(ents, 0.5)"), 6)
        .alias("ents_per_sent_median"),
        zero.alias("n_zero_entity_sents"),
        F.round(zero * 100 / n_docs, 6).alias("pct_zero_entity_sents"),
    )


def class_distribution_cube(tags_df: DataFrame,
                            group_col: str = "lang") -> DataFrame:
    """A8 split×class grid via CUBE (utils/fonctions.py:366-410) — exercises
    grouping sets; Catalyst expands to a single shuffle."""
    return (
        tags_df.filter(F.col("tag") != "O")
        .withColumn("cls", F.expr("substr(tag, 3)"))
        .cube(F.col(group_col).alias("split"), "cls")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def top_words(tokens_df: DataFrame, k: int = 20) -> DataFrame:
    """O6-style global top-k most frequent lowercased words."""
    return (
        tokens_df.select(F.lower("token").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("word"))
        .limit(k)
    )
