"""Both span-merge implementations must produce identical mention sets on
real driver data (not just golden sentences), and embedding near-dup finds
planted duplicates."""

from pyspark.sql import functions as F

from biomedical_ner_spark.operators import dedup, spans


def _key_set(df):
    return {
        (r.doc_id, r.text, r.type, r.tag, tuple(r.individual_tags),
         tuple(r.tokens), r.start_position, r.end_position)
        for r in df.collect()
    }


def test_span_paths_identical_on_testdata(spark, docs_small):
    a = _key_set(spans.mentions(docs_small))
    b = _key_set(
        spans.extract_mentions_arrow(docs_small).drop("content_sha")
    )
    assert a == b
    assert len(a) > 1000


def test_embedding_near_dups(spark):
    base = [0.1 * i for i in range(8)]
    rows = [
        (0, base),
        (1, base),                       # exact dup
        (2, [x * 2.0 for x in base]),    # same direction -> cos 1.0
        (3, [1.0] + [0.0] * 7),
        (4, [-x for x in base]),         # opposite
    ]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")
    pairs = {(r.a, r.b): r.cos
             for r in dedup.embedding_near_dups(df, threshold=0.99).collect()}
    assert (0, 1) in pairs and (0, 2) in pairs and (1, 2) in pairs
    assert all(k in {(0, 1), (0, 2), (1, 2)} for k in pairs)


def test_span_merge_fuzz_random_lexicon_streams(spark):
    """Seeded fuzz: random streams over HEADS/CONTS/filler/digit/punct
    tokens (maximizing B-, chained I-, orphan-I, type-switch, trailing-
    flush cases), one batch — both Spark span paths must equal the Python
    oracle exactly."""
    import random

    from biomedical_ner_spark.core.oracle import run_reference_pipeline
    from biomedical_ner_spark.lexicon import CONTS, HEADS
    from biomedical_ner_spark.operators import spans

    rng = random.Random(99)
    pool = (list(HEADS) + list(CONTS) * 2
            + ["foo", "bar", "runs", "42", "7", ",", "."])
    docs = []
    for i in range(120):
        n = rng.randint(0, 18)
        toks = [rng.choice(pool) for _ in range(n)]
        # random casing to exercise lowercase-normalization
        toks = [t.upper() if rng.random() < 0.2 else t for t in toks]
        docs.append((i, " ".join(toks)))
    df = spark.createDataFrame(docs, "doc_id BIGINT, text STRING")

    def key_set(m):
        return {(r.doc_id, r.text, r.type, r.tag, r.start_position,
                 r.end_position) for r in m.collect()}

    got_window = key_set(spans.mentions(df))
    got_arrow = key_set(spans.extract_mentions_arrow(df).drop("content_sha"))

    want = set()
    for did, text in docs:
        _, ents = run_reference_pipeline(text)
        for e in ents:
            want.add((did, e["text"], e["type"], e["tag"],
                      e["start_position"], e["end_position"]))
    assert got_window == want
    assert got_arrow == want
