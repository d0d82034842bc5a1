"""Tests for the pluggable taggers (Viterbi M2) and augmentation (M4)."""

import numpy as np
import pytest

from biomedical_ner_spark.core.tagger import (
    TAGSET,
    EmissionCRFTagger,
    GazetteerTagger,
    load_torch_tagger,
    viterbi_batch,
)
from biomedical_ner_spark.operators.augment import (
    augment_sentence_py,
    augment_sentences,
    default_synonyms,
)


def _brute_viterbi(em, trans, length):
    """Exponential-time oracle over all tag paths."""
    import itertools

    K = em.shape[1]
    best, best_score = None, -1e18
    for path in itertools.product(range(K), repeat=length):
        s = em[0, path[0]]
        for t in range(1, length):
            s += trans[path[t - 1], path[t]] + em[t, path[t]]
        if s > best_score:
            best_score, best = s, list(path)
    return best


def test_viterbi_matches_bruteforce():
    rng = np.random.default_rng(3)
    for _ in range(10):
        T, K = rng.integers(1, 6), 4
        em = rng.standard_normal((1, T, K)).astype(np.float32)
        trans = rng.standard_normal((K, K)).astype(np.float32)
        got = viterbi_batch(em, trans, np.array([T]))[0]
        want = _brute_viterbi(em[0], trans, T)
        assert got == want


def test_viterbi_ragged_batch():
    rng = np.random.default_rng(4)
    B, T, K = 5, 7, 3
    em = rng.standard_normal((B, T, K)).astype(np.float32)
    trans = rng.standard_normal((K, K)).astype(np.float32)
    lengths = np.array([7, 3, 1, 0, 5])
    paths = viterbi_batch(em, trans, lengths)
    for i, ln in enumerate(lengths):
        assert len(paths[i]) == ln
        single = viterbi_batch(em[i:i + 1, :ln], trans, np.array([ln]))[0]
        assert paths[i] == single


def test_emission_crf_tagger_deterministic_and_batch_invariant():
    tagger = EmissionCRFTagger(seed=42)
    sents = [["p53", "binds", "DNA"], ["HeLa", "cells"], ["x"]]
    a = tagger.tag_batch(sents)
    b = tagger.tag_batch(sents)
    assert a == b
    # batch composition must not change per-sentence results
    solo = [tagger.tag_sentence(s) for s in sents]
    assert a == solo
    assert all(t in TAGSET for tags in a for t in tags)
    # argmax fallback path also works and differs structurally (no trans)
    am = EmissionCRFTagger(seed=42, decode="argmax").tag_batch(sents)
    assert [len(x) for x in am] == [len(s) for s in sents]


def test_gazetteer_tagger_equals_lexicon():
    from tests.golden import GOLDEN

    from biomedical_ner_spark.core import tokenize_text

    g = GazetteerTagger()
    for text, gold in GOLDEN:
        assert g.tag_sentence(tokenize_text(text)) == gold


def test_torch_loader_gated():
    with pytest.raises(NotImplementedError):
        load_torch_tagger("/nonexistent.pt")


@pytest.fixture(scope="module")
def sentences(spark):
    rows = [
        (0, ["p53", "binds", "to", "the", "response"],
         ["B-protein", "O", "O", "O", "O"]),
        (1, ["HeLa", "cells", "stimulate", "expression"],
         ["B-cell_line", "I-cell_line", "O", "O"]),
        (2, ["mRNA", "expression", "was", "similar"],
         ["B-RNA", "O", "O", "O"]),
        (3, ["BRCA1", "plays", "a", "key", "role"],
         ["B-DNA", "O", "O", "O", "O"]),
        (4, ["DNA", "binds", "DNA"], ["B-DNA", "O", "B-DNA"]),
    ]
    return spark.createDataFrame(
        rows, "doc_id BIGINT, tokens ARRAY<STRING>, labels ARRAY<STRING>"
    )


def test_augment_matches_python_oracle(spark, sentences):
    from biomedical_ner_spark.operators.augment import _sent_seed

    out = {
        (r.doc_id, r.copy_idx): (list(r.tokens), list(r.labels))
        for r in augment_sentences(sentences, spark, n_copies=2).collect()
    }
    syn = default_synonyms()
    for r in sentences.collect():
        for c in range(2):
            want = augment_sentence_py(
                list(r.tokens), list(r.labels), _sent_seed(r.doc_id, c), syn
            )
            assert out[(r.doc_id, c)] == want
    # labels never change; entity tokens never replaced
    for (doc, _), (toks, labs) in out.items():
        src = sentences.where(f"doc_id = {doc}").collect()[0]
        assert labs == list(src.labels)
        for i, lab in enumerate(labs):
            if lab != "O":
                assert toks[i] == src.tokens[i]


def test_balance_ner_dataset_matches_python_twin(spark):
    """Property test: the distributed balance loop row-for-row equals the
    sequential twin on a seeded corpus with a rare RNA class, an
    under-median class, and an overrepresented class that triggers the
    0.4-keep downsample."""
    from biomedical_ner_spark.operators.augment import (
        balance_ner_dataset,
        balance_ner_dataset_py,
        balance_targets,
    )

    rows = []
    # 2 RNA sentences (rare -> boosted to 2x median), 3 protein
    # (under-median), 12 DNA (dominant -> overrepresented after targets)
    rows += [(i, ["RNA", "binds", "x"], ["B-RNA", "O", "O"]) for i in (0, 1)]
    rows += [(i, ["p53", "levels", "rise"], ["B-protein", "O", "O"])
             for i in (10, 11, 12)]
    rows += [(i, ["DNA", "strand", "key"], ["B-DNA", "O", "O"])
             for i in range(20, 32)]
    df = spark.createDataFrame(
        rows, "doc_id BIGINT, tokens ARRAY<STRING>, labels ARRAY<STRING>")

    got = {
        (r.doc_id, r.copy_idx, tuple(r.tokens), tuple(r.labels))
        for r in balance_ner_dataset(df, spark).collect()
    }
    want = {
        (d, ci, tuple(t), tuple(l))
        for d, ci, t, l in balance_ner_dataset_py(rows)
    }
    assert got == want

    # reference target rules: RNA -> min(2 * median, max)
    counts = {"RNA": 2, "protein": 3, "DNA": 12}
    t = balance_targets(counts)
    assert t["RNA"] == min(2 * 3, 12) == 6
    assert t["protein"] == min(int(3 * 1.2), int(12 * 0.8)) == 3
    assert t["DNA"] == 12

    # RNA deficit (6 - 2 = 4) was actually filled, within the 20-cap
    final = {}
    for _, _, _, labs in want:
        for lab in labs:
            if lab.startswith("B-"):
                final[lab[2:]] = final.get(lab[2:], 0) + 1
    assert final["RNA"] == 6


def test_balance_ner_dataset_downsample_matches_twin(spark):
    """Mixed-class RNA sentences inflate DNA past 1.5x target, triggering
    the 0.4-keep downsample of pure-DNA sentences — twin must agree on
    exactly which rows survive the seeded hash."""
    from biomedical_ner_spark.operators.augment import (
        balance_ner_dataset,
        balance_ner_dataset_py,
    )

    rows = [(0, ["RNA", "and", "DNA"], ["B-RNA", "O", "B-DNA"])]
    rows += [(i, ["p53", "levels", "rise"], ["B-protein", "O", "O"])
             for i in range(10, 15)]
    rows += [(i, ["DNA", "strand", "key"], ["B-DNA", "O", "O"])
             for i in range(20, 30)]
    # counts: RNA 1, protein 5, DNA 11 -> median 5 -> RNA target
    # min(10, 11) = 10, deficit 9 -> 9 copies each adding a B-DNA ->
    # DNA final 20 > 1.5 * 11 -> pure-DNA rows downsampled by hash
    df = spark.createDataFrame(
        rows, "doc_id BIGINT, tokens ARRAY<STRING>, labels ARRAY<STRING>")
    got = {
        (r.doc_id, r.copy_idx, tuple(r.tokens), tuple(r.labels))
        for r in balance_ner_dataset(df, spark).collect()
    }
    res_py = balance_ner_dataset_py(rows)
    want = {(d, ci, tuple(t), tuple(l)) for d, ci, t, l in res_py}
    assert got == want
    # the downsample actually dropped something, and only pure-DNA rows
    n_total = 1 + 5 + 10 + 9  # originals + RNA copies
    assert len(res_py) < n_total
    dropped_docs = {d for d in range(20, 30)} - {d for d, *_ in res_py}
    assert dropped_docs  # at least one pure-DNA sentence gone
