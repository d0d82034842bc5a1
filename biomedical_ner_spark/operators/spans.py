"""Mention detection: tokenize -> BIO tag -> span merge (SURVEY.md W1).

Reference semantics: app.py:210-214 (tokenize), app.py:335-416 (span merge
with orphan-I promotion + trailing flush).  Two implementations, both
pinned to ``core.oracle.run_reference_pipeline`` by the tests:

1. **`mentions` (window/groupBy) — the registry queries**: tags computed
   array-side (narrow map-literal lookups), then posexplode -> running-sum
   window -> groupBy (doc_id, span_id).  Window and groupBy both cluster on
   doc_id so Catalyst plans exactly ONE exchange; all whole-stage codegen.
   ASCII-explicit SQL tokenizer, so it has a DuckDB twin
   (`bio_spans_window_sql`) and is exact on ASCII corpora.

2. **`extract_mentions_arrow` — the KG pipeline and the mention stream**:
   one fused mapInPandas running the *exact* Python-re tokenizer + shared
   tagger + transcribed span merge of ``core.oracle`` per document — ZERO
   shuffles, exact on arbitrary unicode, and stateless, so it runs
   unchanged on a streaming source with an append-mode sink.

No higher-order-function fold form: Spark interprets HOFs
(CodegenFallback), ~16x slower than the window form at sf0.1.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..core.oracle import MAX_SEQ_LEN, extract_entities, predict_tags, tokenize_text
from ..functions.text import SQL_TOKEN_PATTERN
from ..lexicon import tag_case_sql

# ---------------------------------------------------------------------------
# 1. Declarative, shuffle-free form
# ---------------------------------------------------------------------------


def tokens_array(text_col: str, max_seq_len: int = MAX_SEQ_LEN) -> Column:
    """Tokenize + truncate (app.py:216-218) as a single array expression."""
    return F.expr(
        f"slice(regexp_extract_all({text_col}, '{SQL_TOKEN_PATTERN}', 0),"
        f" 1, {max_seq_len})"
    )


def _map_literal_sql(d: dict[str, str]) -> str:
    pairs = ", ".join(f"'{k}', '{v}'" for k, v in sorted(d.items()))
    return f"map({pairs})"


def tags_array(tokens_col: str) -> Column:
    """Per-token BIO tags from the shared lexicon rule — the previous token
    is read from the same array (0-based ``arr[i-1]``), so no window, no
    shuffle: tagging is a per-row array transform.

    Lexicon lookups are literal-map element_at's (O(1) per token, small
    expression tree) rather than inlined CASE chains, keeping Catalyst
    analysis/codegen cheap; the DuckDB oracle twin uses the equivalent CASE
    form (lexicon.tag_case_sql)."""
    from ..lexicon import CONTS, HEADS, lexicon_type

    all_types = {w: t for w, t in HEADS.items()}
    all_types.update(CONTS)
    heads_only = {w: t for w, t in HEADS.items() if w not in CONTS}
    conts_m = _map_literal_sql(CONTS)
    heads_m = _map_literal_sql(heads_only)
    types_m = _map_literal_sql(all_types)
    assert all(lexicon_type(w) == t for w, t in all_types.items())
    return F.expr(
        f"""transform({tokens_col}, (tok, i) ->
          CASE
            WHEN element_at({conts_m}, lower(tok)) IS NOT NULL
              THEN concat('I-', element_at({conts_m}, lower(tok)))
            WHEN element_at({heads_m}, lower(tok)) IS NOT NULL THEN
              CASE WHEN i > 0 AND coalesce(
                     element_at({types_m}, lower({tokens_col}[i-1])), '')
                   = element_at({heads_m}, lower(tok))
                THEN concat('I-', element_at({heads_m}, lower(tok)))
                ELSE concat('B-', element_at({heads_m}, lower(tok)))
              END
            ELSE 'O'
          END)"""
    )


def span_start_case(tag: str, then: str, otherwise: str) -> str:
    """SQL CASE inside a `transform(tags, (_, i) -> ...)` lambda: ``then``
    where ``tag`` (== tags[i]) opens a span, else ``otherwise``.  The BIO
    rule of app.py:335-416: B- opens; I- opens at i = 0, after O or after
    another type (orphan-I promotion); O never opens."""
    return (
        f"CASE WHEN {tag} = 'O' THEN {otherwise}"
        f" WHEN substr({tag}, 1, 2) = 'B-' THEN {then}"
        f" WHEN i = 0 THEN {then}"
        f" WHEN tags[i-1] = 'O' THEN {then}"
        f" WHEN substr(tags[i-1], 3) != substr({tag}, 3) THEN {then}"
        f" ELSE {otherwise} END"
    )


def doc_tokens(docs: DataFrame, text_col: str = "text") -> DataFrame:
    return docs.withColumn("tokens", tokens_array(text_col))


def doc_tags(docs: DataFrame, text_col: str = "text") -> DataFrame:
    return doc_tokens(docs, text_col).withColumn("tags", tags_array("tokens"))


def bio_tags_exploded(docs: DataFrame, text_col: str = "text",
                      keep_cols: list[str] | None = None) -> DataFrame:
    """(doc_id, pos, token, tag) rows — the `predictions` table (D9)."""
    keep_cols = keep_cols if keep_cols is not None else ["doc_id"]
    d = doc_tags(docs, text_col)
    return d.select(
        *keep_cols,
        F.posexplode(F.expr(
            "transform(tokens, (tok, i) -> named_struct("
            "'token', tok, 'tag', tags[i]))"
        )).alias("pos", "tt"),
    ).select(*keep_cols, "pos", F.col("tt.token").alias("token"),
             F.col("tt.tag").alias("tag"))


def mentions(docs: DataFrame, text_col: str = "text",
             keep_cols: list[str] | None = None) -> DataFrame:
    """Mention extraction — DEFAULT/high-throughput JVM path (W1(b)).

    Tags are still computed array-side (narrow, cheap map lookups); the
    sequential span merge becomes: posexplode -> running-sum-of-starts
    window -> groupBy (doc_id, span_id).  The window and the groupBy both
    cluster on doc_id, so Catalyst plans exactly ONE exchange; every
    operator is whole-stage-codegen (no interpreted higher-order funcs
    on the per-token path).
    """
    keep_cols = keep_cols if keep_cols is not None else ["doc_id"]
    d = doc_tags(docs, text_col)
    tok = d.select(
        *keep_cols,
        F.posexplode(F.expr(
            "transform(tokens, (tok, i) -> named_struct("
            "'token', tok, 'tag', tags[i],"
            # span-start flag computed array-side too: no lag() needed
            f"'is_start', {span_start_case('tags[i]', '1', '0')}))"
        )).alias("pos", "e"),
    ).select(*keep_cols, "pos", "e.token", "e.tag", "e.is_start")
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # O rows are dropped BEFORE the exchange/window, not after: is_start
    # is 0 on every O row, so the running sum evaluated at the surviving
    # non-O rows is unchanged, and the doc_id exchange + window sort carry
    # only entity tokens (guide §2.3: shuffle fewer bytes).  span_id > 0
    # then holds by construction (every non-O run begins with a start).
    numbered = (
        tok.filter(F.col("tag") != "O")
        .withColumn("span_id", F.sum("is_start").over(w))
    )
    other_keys = [c for c in keep_cols if c != "doc_id"]
    return (
        numbered.filter(F.col("span_id") > 0)
        .groupBy("doc_id", "span_id")
        .agg(
            *[F.first(c).alias(c) for c in other_keys],
            F.sort_array(F.collect_list(F.struct("pos", "token", "tag")))
            .alias("elems"),
        )
        .select(
            *keep_cols,
            F.expr("concat_ws(' ', transform(elems, e -> e.token))").alias("text"),
            F.expr("substr(elems[0].tag, 3)").alias("type"),
            F.expr("concat('B-', substr(elems[0].tag, 3))").alias("tag"),
            F.expr("transform(elems, e -> e.tag)").alias("individual_tags"),
            F.expr("transform(elems, e -> e.token)").alias("tokens"),
            F.expr("elems[0].pos").alias("start_position"),
            F.expr("elems[size(elems)-1].pos").alias("end_position"),
        )
    )


# ---------------------------------------------------------------------------
# 2. Arrow parity path (exact Python-re semantics, fused single crossing)
# ---------------------------------------------------------------------------

MENTION_SCHEMA = (
    "doc_id BIGINT, content_sha STRING, text STRING, type STRING, tag STRING,"
    " individual_tags ARRAY<STRING>, tokens ARRAY<STRING>,"
    " start_position INT, end_position INT"
)


def _mention_schema(docs: DataFrame, id_col: str) -> str:
    """MENTION_SCHEMA with doc_id typed from the input (a 128-bit string
    id — kg_pipeline.prepare_input(wide_ids=True) — flows through the
    Arrow stage unchanged; every downstream join is key-type-agnostic)."""
    id_t = docs.schema[id_col].dataType.simpleString()
    return MENTION_SCHEMA.replace("doc_id BIGINT", f"doc_id {id_t}", 1)


def extract_mentions_arrow(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sha_col: str | None = None,
    tagger=None,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Fused tokenize->tag->span-merge in ONE mapInPandas stage.

    Exact reference semantics by construction: each document runs through
    ``core.oracle.run_reference_pipeline`` (the transcription of
    app.py:210-252 + app.py:335-416).  One JVM<->Python Arrow crossing for
    the whole extract stage.

    ``tagger``: optional model-style tagger (M1/M2 — anything with a
    ``tag_batch(list[list[str]]) -> list[list[str]]``, e.g.
    core.tagger.EmissionCRFTagger wrapping a neural forward).  Tagging then
    runs ONE batched call per Arrow batch (how a real model wants to be
    fed) instead of the per-token lexicon rule; the BIO span-merge
    downstream is identical.

    ``keep_cols``: per-doc metadata columns carried THROUGH the crossing
    and replicated onto each mention row.  The alternative — joining the
    mention stream back to a (doc_id, meta) projection — is a corpus-sized
    shuffle join on BOTH sides (the meta side cannot broadcast: it is one
    row per document); replicating ~100 B of meta per mention through
    Arrow costs only serialization on an exchange-free narrow stage.
    """
    import pandas as pd

    keep_cols = list(keep_cols or [])
    base_cols = {"doc_id", "content_sha", "text", "type", "tag",
                 "individual_tags", "tokens", "start_position",
                 "end_position"}
    clash = sorted(base_cols.intersection(keep_cols))
    if clash:
        raise ValueError(
            f"keep_cols {clash} collide with the mention output columns "
            f"{sorted(base_cols)}; rename them upstream (doc_id/content_sha "
            "already flow through id_col/sha_col)")
    has_sha = sha_col is not None
    cols = [id_col, text_col] + ([sha_col] if has_sha else []) + keep_cols
    src = docs.select(*cols)

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in (
                "doc_id", "content_sha", "text", "type", "tag",
                "individual_tags", "tokens", "start_position", "end_position",
                *keep_cols,
            )}
            texts = pdf[text_col].tolist()
            ids = pdf[id_col].tolist()
            shas = pdf[sha_col].tolist() if has_sha else [None] * len(ids)
            keeps = {k: pdf[k].tolist() for k in keep_cols}
            toks_list = [tokenize_text(raw or "")[:MAX_SEQ_LEN]
                         for raw in texts]
            if tagger is None:
                preds_list = [predict_tags(t) for t in toks_list]
            else:
                tag_lists = tagger.tag_batch(toks_list)
                preds_list = [list(zip(t, g))
                              for t, g in zip(toks_list, tag_lists)]
            for i, (did, sha, preds) in enumerate(
                    zip(ids, shas, preds_list)):
                ents = extract_entities(preds)
                for e in ents:
                    out["doc_id"].append(did)
                    out["content_sha"].append(sha)
                    out["text"].append(e["text"])
                    out["type"].append(e["type"])
                    out["tag"].append(e["tag"])
                    out["individual_tags"].append(e["individual_tags"])
                    out["tokens"].append(e["tokens"])
                    out["start_position"].append(e["start_position"])
                    out["end_position"].append(e["end_position"])
                    for k in keep_cols:
                        out[k].append(keeps[k][i])
            yield pd.DataFrame(out)

    schema = _mention_schema(docs, id_col)
    for c in keep_cols:
        schema += f", {c} {docs.schema[c].dataType.simpleString()}"
    return src.mapInPandas(_extract, schema=schema)


# ---------------------------------------------------------------------------
# 3. Window-form SQL (used as DuckDB oracle twin; also runnable in Spark)
# ---------------------------------------------------------------------------

def bio_tags_window_sql(doc_table: str, text_col: str = "text",
                        id_col: str = "doc_id") -> str:
    """DuckDB SQL producing (doc_id, pos, token, tag) — the window
    formulation (lag for prev token); the oracle twin of tags_array."""
    case = tag_case_sql("lower(token)", "lower(prev_token)")
    return f"""
WITH toks AS (
  SELECT doc_id, pos, token FROM (
    SELECT {id_col} AS doc_id,
           UNNEST(arr) AS token,
           generate_subscripts(arr, 1) - 1 AS pos
    FROM (
      SELECT {id_col},
             regexp_extract_all({text_col}, '{SQL_TOKEN_PATTERN}') AS arr
      FROM {doc_table}
    )
  ) WHERE pos < {MAX_SEQ_LEN}
), tagged AS (
  SELECT doc_id, pos, token,
         lag(token) OVER (PARTITION BY doc_id ORDER BY pos) AS prev_token
  FROM toks
)
SELECT doc_id, pos, token, {case} AS tag FROM tagged
"""


def bio_spans_window_sql(doc_table: str, text_col: str = "text",
                         id_col: str = "doc_id") -> str:
    """DuckDB oracle for span merge: sessionization by running sum of span
    starts, then per-span aggregation (W1(b) in SURVEY.md §2.5)."""
    tags_sql = bio_tags_window_sql(doc_table, text_col, id_col)
    return f"""
WITH tagged AS ({tags_sql}),
marked AS (
  SELECT *,
    CASE
      WHEN tag = 'O' THEN 0
      WHEN substr(tag, 1, 2) = 'B-' THEN 1
      WHEN lag(tag) OVER w IS NULL THEN 1
      WHEN lag(tag) OVER w = 'O' THEN 1
      WHEN substr(lag(tag) OVER w, 3) <> substr(tag, 3) THEN 1
      ELSE 0
    END AS is_start
  FROM tagged
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), numbered AS (
  SELECT *,
    sum(is_start) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS span_id
  FROM marked
)
SELECT
  doc_id,
  CAST(span_id AS INT) AS span_id,
  string_agg(token, ' ' ORDER BY pos) AS text,
  substr(min_by(tag, pos), 3) AS type,
  'B-' || substr(min_by(tag, pos), 3) AS tag,
  CAST(min(pos) AS INT) AS start_position,
  CAST(max(pos) AS INT) AS end_position,
  CAST(count(*) AS INT) AS n_tokens
FROM numbered
WHERE tag <> 'O' AND span_id > 0
GROUP BY doc_id, span_id
"""
