"""Golden-sentence and property parity: Spark paths vs the transcribed
single-process oracle (SURVEY.md §5.2.1, §5.2.3, §5.2.4)."""

import random

import pytest

from biomedical_ner_spark.core import (
    extract_entities,
    predict_tags,
    run_reference_pipeline,
    tokenize_text,
)
from biomedical_ner_spark.operators import spans
from tests.golden import GOLDEN


def _ent_tuple(e):
    return (
        e["text"], e["type"], e["tag"], tuple(e["individual_tags"]),
        tuple(e["tokens"]), e["start_position"], e["end_position"],
    )


def _row_tuple(r):
    return (
        r.text, r.type, r.tag, tuple(r.individual_tags), tuple(r.tokens),
        r.start_position, r.end_position,
    )


def test_oracle_reproduces_golden_tags():
    for text, gold in GOLDEN:
        preds, _ = run_reference_pipeline(text)
        assert [t for _, t in preds] == gold, text


def test_spark_tags_match_oracle(golden_docs):
    got = {
        (r.doc_id, r.pos): (r.token, r.tag)
        for r in spans.bio_tags_exploded(golden_docs).collect()
    }
    for i, (text, _) in enumerate(GOLDEN):
        preds, _ = run_reference_pipeline(text)
        for p, pair in enumerate(preds):
            assert got[(i, p)] == pair


@pytest.mark.parametrize("impl", ["window", "arrow"])
def test_spark_mentions_match_oracle(golden_docs, impl):
    fn = {
        "window": spans.mentions,
        "arrow": lambda d: spans.extract_mentions_arrow(d),
    }[impl]
    rows = fn(golden_docs).collect()
    got = {}
    for r in rows:
        got.setdefault(r.doc_id, []).append(_row_tuple(r))
    for i, (text, _) in enumerate(GOLDEN):
        _, ents = run_reference_pipeline(text)
        want = [_ent_tuple(e) for e in ents]
        have = sorted(got.get(i, []), key=lambda x: x[5])
        assert have == want, f"doc {i}: {text}"


def test_span_merge_properties_random_tag_sequences():
    """BIO-decode invariants fuzzed vs the oracle (FIXTURES.md §6):
    non-overlapping ordered spans, start<=end, token concat, orphan-I."""
    rng = random.Random(42)
    types = ["protein", "DNA", "RNA", "cell_line", "cell_type"]
    tagset = ["O"] + [p + t for p in ("B-", "I-") for t in types]
    for _ in range(300):
        n = rng.randint(0, 120)
        tags = [rng.choice(tagset) for _ in range(n)]
        toks = [f"w{i}" for i in range(n)]
        ents = extract_entities(list(zip(toks, tags)))
        last_end = -1
        covered = []
        for e in ents:
            assert e["start_position"] <= e["end_position"]
            assert e["start_position"] > last_end
            last_end = e["end_position"]
            assert e["tag"].startswith("B-")
            assert e["tag"][2:] == e["type"]
            assert len(e["tokens"]) == (
                e["end_position"] - e["start_position"] + 1
            )
            assert e["text"] == " ".join(e["tokens"])
            covered.extend(
                range(e["start_position"], e["end_position"] + 1)
            )
        non_o = [i for i, t in enumerate(tags) if t != "O"]
        assert covered == non_o  # spans exactly cover non-O positions


def test_tokenizer_truncation_and_digits():
    text = " ".join(["tok"] * 150) + " 123"
    toks = tokenize_text(text)
    assert len(toks) == 151
    preds, _ = run_reference_pipeline(text)
    assert len(preds) == 100  # truncated at max_seq_len (app.py:218)


def test_predict_tags_prev_dependency():
    # adjacency merge: same-type heads fuse (BRCA1 DNA -> B-DNA I-DNA)
    assert [t for _, t in predict_tags(["BRCA1", "DNA"])] == ["B-DNA", "I-DNA"]
    assert [t for _, t in predict_tags(["DNA"])] == ["B-DNA"]
    # orphan continuation stays I- (promotion happens at span merge)
    assert [t for _, t in predict_tags(["cells"])] == ["I-cell_line"]
    ents = extract_entities(predict_tags(["cells"]))
    assert ents[0]["tag"] == "B-cell_line"
