"""Data augmentation (SURVEY.md M4/A13): per-sentence synonym replacement
of O-tagged words + class balancing — the distributed twin of
`augment_sentence` (utils/fonctionsFaxtText.py:615-670) and
`balance_ner_dataset` (utils/fonctionsFaxtText.py:675-824).

Determinism: the reference seeds one global RNG (seed=42, :684-685);
distributed execution can't share a sequential RNG, so each sentence gets
its own seed = xxhash64(doc_id, sent_key, copy_idx) (SURVEY.md §4.3.4) —
retry-safe and order-independent.  The synonym table stands in for
FastText most_similar (J6): a broadcast dict of deterministic synonyms.

The deficit loop of balance_ner_dataset is driver-side logic over tiny
aggregates (A9/A13), exactly like the reference; only the per-sentence
transform is distributed.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# plausibility filter P9 (utils/fonctionsFaxtText.py:553-562)
from ..functions.text import PLAUSIBILITY_STOPWORDS

_STOP = frozenset(PLAUSIBILITY_STOPWORDS)


def is_plausible(word: str) -> bool:
    w = word.lower()
    return (
        len(w) >= 2
        and all(c.isalpha() or c in "-_" for c in w)
        and w not in _STOP
    )


def default_synonyms() -> dict[str, list[str]]:
    """Deterministic stand-in for fasttext.wv.most_similar (J6)."""
    return {
        "stimulate": ["activate", "induce"],
        "binds": ["attaches", "couples"],
        "expression": ["abundance", "levels"],
        "similar": ["comparable", "analogous"],
        "response": ["reaction"],
        "role": ["function"],
        "key": ["central", "critical"],
        "associated": ["linked", "correlated"],
        "produces": ["generates", "yields"],
        "upregulated": ["increased", "elevated"],
    }


def _aug_u32(seed: int, i: int, kind: str) -> int:
    return int(hashlib.md5(
        f"aug:{seed}:{i}:{kind}".encode()).hexdigest()[:8], 16)


def augment_sentence_py(tokens: list[str], labels: list[str], seed: int,
                        synonyms: dict[str, list[str]],
                        replace_prob: float = 0.3) -> tuple[list[str], list[str]]:
    """Single-sentence transform — shared by the Spark stage, the pytest
    oracle, AND the DuckDB query twin.  Only O-tagged, plausible words
    with a synonym are replaced.  Decisions are md5-derived per (seed,
    position) instead of a sequential RNG so the SQL oracle replays them
    exactly (and they stay independent of iteration order)."""
    out = list(tokens)
    for i, (tok, lab) in enumerate(zip(tokens, labels)):
        if lab != "O" or not is_plausible(tok):
            continue
        syns = synonyms.get(tok.lower())
        if syns and _aug_u32(seed, i, "r") / 4294967296.0 < replace_prob:
            out[i] = syns[_aug_u32(seed, i, "p") % len(syns)]
    return out, list(labels)


def _sent_seed(doc_id: int, copy_idx: int) -> int:
    h = hashlib.md5(f"{doc_id}:{copy_idx}:42".encode()).digest()
    return int.from_bytes(h[:8], "big")


AUG_SCHEMA = (
    "doc_id BIGINT, copy_idx INT, tokens ARRAY<STRING>, labels ARRAY<STRING>"
)


def augment_sentences(sentences: DataFrame, spark: SparkSession,
                      n_copies: int = 1, replace_prob: float = 0.3,
                      synonyms: dict[str, list[str]] | None = None,
                      n_copies_col: str | None = None) -> DataFrame:
    """(doc_id, tokens, labels) -> augmented rows per sentence via one
    mapInPandas crossing with per-row seeded RNGs.  Copy count is the fixed
    ``n_copies``, or per-row from ``n_copies_col`` when given (the balance
    loop allocates a different count per sentence)."""
    import pandas as pd

    syn = synonyms or default_synonyms()
    b_syn = spark.sparkContext.broadcast(syn)
    cols = ["doc_id", "tokens", "labels"]
    if n_copies_col:
        cols.append(n_copies_col)

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        s = b_syn.value
        for pdf in batches:
            rows = []
            counts = (pdf[n_copies_col] if n_copies_col
                      else [n_copies] * len(pdf))
            for doc_id, toks, labs, k in zip(
                pdf["doc_id"], pdf["tokens"], pdf["labels"], counts
            ):
                for c in range(int(k)):
                    t2, l2 = augment_sentence_py(
                        list(toks), list(labs), _sent_seed(doc_id, c),
                        s, replace_prob,
                    )
                    rows.append((doc_id, c, t2, l2))
            yield pd.DataFrame(
                rows, columns=["doc_id", "copy_idx", "tokens", "labels"]
            )

    return sentences.select(*cols).mapInPandas(_run, schema=AUG_SCHEMA)


def class_counts(sentences: DataFrame) -> DataFrame:
    """A9: entity-class counts (B- spans per class)."""
    return (
        sentences.select(F.explode("labels").alias("label"))
        .where(F.col("label").startswith("B-"))
        .select(F.expr("substr(label, 3)").alias("cls"))
        .groupBy("cls")
        .agg(F.count(F.lit(1)).alias("n"))
    )


RNA_CLASSES = ("RNA",)


def balance_targets(counts: dict[str, int],
                    target_ratio: float = 0.8) -> dict[str, int]:
    """Per-class balance targets, the reference's rules
    (utils/fonctionsFaxtText.py:694-706) at class granularity:
    RNA -> min(2x median, max); under-median -> min(1.2x median,
    target_ratio x max); else unchanged."""
    vals = sorted(counts.values())
    n = len(vals)
    med = (vals[n // 2] if n % 2 else (vals[n // 2 - 1] + vals[n // 2]) / 2.0)
    med = int(med)
    mx = max(vals)
    out = {}
    for cls, cnt in counts.items():
        if cls in RNA_CLASSES:
            out[cls] = min(int(med * 2.0), mx)
        elif cnt < med:
            out[cls] = min(int(med * 1.2), int(mx * target_ratio))
        else:
            out[cls] = cnt
    return out


def _bal_rank_key(doc_id: int, seed: int) -> str:
    return hashlib.md5(f"{doc_id}:{seed}:bal".encode()).hexdigest()


def _keep_u(doc_id: int, copy_idx: int, seed: int) -> float:
    h = hashlib.md5(f"{doc_id}:{copy_idx}:{seed}:ds".encode()).hexdigest()
    return int(h[:8], 16) / 4294967296.0


def _classes_of(labels: list[str]) -> list[str]:
    return sorted({l[2:] for l in labels if l.startswith("B-")})


def _sponsor_of(classes: list[str], deficit: dict[str, float]) -> str | None:
    cand = [c for c in classes if deficit.get(c, 0) > 0]
    if not cand:
        return None
    for r in RNA_CLASSES:
        if r in cand:
            return r
    return max(cand, key=lambda c: (deficit[c], c))


def balance_ner_dataset_plan(counts: dict[str, int],
                             sponsor_sizes: dict[str, int],
                             target_ratio: float = 0.8,
                             max_aug_per_sentence: int = 3,
                             max_rna_aug: int = 20,
                             ) -> dict[str, tuple[int, int, int]]:
    """Deterministic allocation: for each deficient sponsor class with
    n_cand candidate sentences, every sentence gets deficit // n_cand
    copies and the first deficit %% n_cand (in seeded-hash order) get one
    more, all capped at 20 for RNA / 3 otherwise (the reference's
    aug_count_per_orig caps).  Returns {cls: (base, rem, cap)}."""
    targets = balance_targets(counts, target_ratio)
    plan = {}
    for cls, n_cand in sponsor_sizes.items():
        if n_cand <= 0:
            continue
        deficit = max(0, targets.get(cls, 0) - counts.get(cls, 0))
        if deficit <= 0:
            continue
        cap = max_rna_aug if cls in RNA_CLASSES else max_aug_per_sentence
        plan[cls] = (deficit // n_cand, deficit % n_cand, cap)
    return plan


def balance_ner_dataset(sentences: DataFrame, spark: SparkSession,
                        target_ratio: float = 0.8,
                        max_aug_per_sentence: int = 3,
                        max_rna_aug: int = 20,
                        replace_prob: float = 0.25,
                        rna_replace_prob: float = 0.4,
                        downsample_keep: float = 0.4,
                        seed: int = 42,
                        synonyms: dict[str, list[str]] | None = None,
                        ) -> DataFrame:
    """Reference-faithful class balancing (balance_ner_dataset,
    utils/fonctionsFaxtText.py:675-824), re-expressed as a deterministic
    distributed plan:

    * targets: RNA boosted to 2x the median class count, under-median
      classes to 1.2x median (capped by target_ratio x max) — identical
      rules, at B-span class granularity;
    * RNA priority: any deficient sentence containing RNA is sponsored by
      RNA (the reference's step-1 pool) and augmented with the aggressive
      replace_prob=0.4 / cap-20 settings; other deficient sentences are
      sponsored by their max-deficit class (the reference's `sponsor`)
      with replace_prob=0.25 / cap-3;
    * allocation: the reference walks a random.shuffle order mutating
      deficits — inherently sequential.  Here each sponsor class's deficit
      is split evenly over its candidate sentences (quotient to all,
      remainder to the first k in seeded-md5 order), capped identically.
      Same totals and caps, order-free, retry-safe;
    * fractional cross-class credits (0.2/0.3 per co-occurring rare class)
      are intentionally dropped — each sentence has exactly one sponsor;
    * downsample: sentences whose classes are ALL overrepresented
      (> 1.5x target after augmentation) are kept with probability 0.4 —
      by seeded hash, not RNG, so the result is deterministic.

    The whole loop touches the corpus with: one class-count agg, one
    narrow sponsor projection, one per-sponsor window (partitioned by
    sponsor; candidate pools are rare-class-sized by construction), one
    mapInPandas per prob tier, one recount, one hash filter.  Verified
    row-for-row against the sequential Python twin
    (balance_ner_dataset_py) in tests."""
    counts = {r.cls: r.n for r in class_counts(sentences).collect()}
    base = sentences.select("doc_id", "tokens", "labels").withColumn(
        "copy_idx", F.lit(-1).cast("int"))
    if not counts:
        return base
    targets = balance_targets(counts, target_ratio)
    deficit = {c: max(0, targets[c] - counts[c]) for c in counts}

    classes_expr = F.expr(
        "array_distinct(transform(filter(labels, l -> l LIKE 'B-%'),"
        " l -> substr(l, 3)))")
    def_classes = sorted(c for c, d in deficit.items() if d > 0)
    if def_classes:
        def_case = "CASE " + " ".join(
            f"WHEN c = '{cls}' THEN {deficit[cls]}" for cls in def_classes
        ) + " ELSE 0 END"
        rna_arr = ", ".join(f"'{r}'" for r in RNA_CLASSES)
        sponsor_expr = F.expr(
            f"""CASE
              WHEN size(_defc) > 0 THEN
                CASE WHEN size(array_intersect(_defc,
                                               array({rna_arr}))) > 0
                     THEN array_intersect(_defc, array({rna_arr}))[0]
                     ELSE array_max(transform(_defc,
                          c -> struct({def_case} AS d, c AS cls))).cls
                END
              ELSE NULL END""")
        cand = (
            sentences.select("doc_id", "tokens", "labels")
            .withColumn("_classes", classes_expr)
            .withColumn(
                "_defc", F.expr(f"filter(_classes, c -> ({def_case}) > 0)"))
            .withColumn("_sponsor", sponsor_expr)
            .where(F.col("_sponsor").isNotNull())
        )
        from pyspark.sql.window import Window

        key = F.md5(F.concat_ws(
            ":", F.col("doc_id").cast("string"), F.lit(str(seed)),
            F.lit("bal")))
        w = Window.partitionBy("_sponsor").orderBy(key.asc(), F.col("doc_id"))
        cand = cand.withColumn("_rk", F.row_number().over(w))
        sizes = {r["_sponsor"]: r["n"] for r in
                 cand.groupBy("_sponsor").agg(
                     F.count(F.lit(1)).alias("n")).collect()}
        plan = balance_ner_dataset_plan(
            counts, sizes, target_ratio, max_aug_per_sentence, max_rna_aug)
        if plan:
            copies_case = "CASE " + " ".join(
                f"WHEN _sponsor = '{cls}' THEN"
                f" least({cap}, {b} + (CASE WHEN _rk <= {r} THEN 1"
                f" ELSE 0 END))"
                for cls, (b, r, cap) in sorted(plan.items())
            ) + " ELSE 0 END"
            todo = cand.withColumn("_n", F.expr(copies_case)).where(
                F.col("_n") > 0)
            rna_in = ", ".join(f"'{r}'" for r in RNA_CLASSES)
            rna_todo = todo.where(F.expr(f"_sponsor IN ({rna_in})"))
            oth_todo = todo.where(~F.expr(f"_sponsor IN ({rna_in})"))
            augs = []
            for part, prob in ((rna_todo, rna_replace_prob),
                               (oth_todo, replace_prob)):
                augs.append(augment_sentences(
                    part, spark, replace_prob=prob, synonyms=synonyms,
                    n_copies_col="_n"))
            out = base
            for a in augs:
                out = out.unionByName(a.select(base.columns))
        else:
            out = base
    else:
        out = base

    # persist before the recount: class_counts materializes the whole
    # augmentation mapInPandas lineage, and the returned frame would
    # otherwise re-execute it on the caller's first action
    out = out.persist()
    final_counts = {r.cls: r.n for r in class_counts(out).collect()}
    overrep = sorted(
        c for c, n in final_counts.items()
        if n > targets.get(c, n) * 1.5
    )
    if not overrep:
        return out
    over_arr = ", ".join(f"'{c}'" for c in overrep)
    keep_u = (
        F.conv(F.substring(
            F.md5(F.concat_ws(":", F.col("doc_id").cast("string"),
                              F.col("copy_idx").cast("string"),
                              F.lit(str(seed)), F.lit("ds"))), 1, 8),
            16, 10).cast("long") / F.lit(4294967296.0)
    )
    cls2 = F.expr(
        "array_distinct(transform(filter(labels, l -> l LIKE 'B-%'),"
        " l -> substr(l, 3)))")
    drop = (
        (F.size(cls2) > 0)
        & F.expr(
            f"size(array_except(array_distinct(transform(filter(labels,"
            f" l -> l LIKE 'B-%'), l -> substr(l, 3))),"
            f" array({over_arr}))) = 0")
        & (keep_u >= F.lit(downsample_keep))
    )
    return out.where(~drop)


def balance_ner_dataset_py(rows: list[tuple[int, list[str], list[str]]],
                           target_ratio: float = 0.8,
                           max_aug_per_sentence: int = 3,
                           max_rna_aug: int = 20,
                           replace_prob: float = 0.25,
                           rna_replace_prob: float = 0.4,
                           downsample_keep: float = 0.4,
                           seed: int = 42,
                           synonyms: dict[str, list[str]] | None = None,
                           ) -> list[tuple[int, int, list[str], list[str]]]:
    """Sequential single-process twin of balance_ner_dataset — same
    targets, sponsor rule, allocation, seeds, and downsample hash; the
    pytest oracle (the oracle.py transcription pattern)."""
    syn = synonyms or default_synonyms()
    counts: dict[str, int] = {}
    for _, _, labels in rows:
        for l in labels:
            if l.startswith("B-"):
                counts[l[2:]] = counts.get(l[2:], 0) + 1
    out = [(d, -1, list(t), list(l)) for d, t, l in rows]
    if not counts:
        return out
    targets = balance_targets(counts, target_ratio)
    deficit = {c: max(0, targets[c] - counts[c]) for c in counts}
    sponsored: dict[str, list[tuple[str, int, list, list]]] = {}
    for d, t, l in rows:
        sp = _sponsor_of(_classes_of(l), deficit)
        if sp is not None:
            sponsored.setdefault(sp, []).append(
                (_bal_rank_key(d, seed), d, t, l))
    sizes = {c: len(v) for c, v in sponsored.items()}
    plan = balance_ner_dataset_plan(
        counts, sizes, target_ratio, max_aug_per_sentence, max_rna_aug)
    for cls, members in sponsored.items():
        if cls not in plan:
            continue
        b, r, cap = plan[cls]
        prob = rna_replace_prob if cls in RNA_CLASSES else replace_prob
        members.sort(key=lambda x: (x[0], x[1]))
        for rk, (_, d, t, l) in enumerate(members, start=1):
            n = min(cap, b + (1 if rk <= r else 0))
            for c in range(n):
                t2, l2 = augment_sentence_py(
                    list(t), list(l), _sent_seed(d, c), syn, prob)
                out.append((d, c, t2, l2))
    final_counts: dict[str, int] = {}
    for _, _, _, labels in out:
        for l in labels:
            if l.startswith("B-"):
                final_counts[l[2:]] = final_counts.get(l[2:], 0) + 1
    overrep = {c for c, n in final_counts.items()
               if n > targets.get(c, n) * 1.5}
    if not overrep:
        return out
    kept = []
    for d, ci, t, l in out:
        cls = _classes_of(l)
        if cls and all(c in overrep for c in cls) and \
                _keep_u(d, ci, seed) >= downsample_keep:
            continue
        kept.append((d, ci, t, l))
    return kept
