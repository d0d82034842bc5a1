"""Encoding stage (D7, app.py:216-252) and embedding matrix (J4/D11)."""

import pytest

from biomedical_ner_spark.core.oracle import encode_tokens
from biomedical_ner_spark.sources.embeddings import (
    build_embedding_matrix,
    load_gensim_vectors,
    seeded_vector,
    write_vocab_tables,
)


def test_encode_tokens_reference_semantics():
    vocab = {"<PAD>": 0, "<UNK>": 1, "<NUM>": 2, "p53": 3, "binds": 4}
    chars = {"<PAD>": 0, "<UNK>": 1, "p": 2, "5": 3, "3": 4, "b": 5}
    toks, wids, cseqs, n = encode_tokens(
        ["P53", "binds", "42", "unknown-word"], vocab, chars
    )
    assert n == 4
    # lowercase before vocab lookup (app.py:232), digits -> <NUM> (229),
    # OOV -> <UNK> (233)
    assert wids == [3, 4, 2, 1]
    # char ids use the ORIGINAL case, unknown chars -> 1 (app.py:245)
    assert cseqs[0] == [1, 3, 4]  # 'P' unknown, '5', '3'
    assert cseqs[1][0] == 5
    # truncation at max_seq_len and max_char_len
    toks2, wids2, cseqs2, n2 = encode_tokens(
        ["x" * 50] * 120, vocab, chars, max_seq_len=100, max_char_len=20
    )
    assert n2 == 100 and len(wids2) == 100 and len(cseqs2[0]) == 20


def test_embedding_matrix_join_and_fallback(spark):
    vocab = spark.createDataFrame(
        [("p53", 3), ("binds", 4), ("rare", 5)], "word STRING, id INT"
    )
    vectors = spark.createDataFrame(
        [("p53", [1.0] * 200)], "word STRING, vector ARRAY<FLOAT>"
    )
    m = {r.word: (r.id, list(r.vector))
         for r in build_embedding_matrix(vocab, vectors, spark).collect()}
    assert set(m) == {"<PAD>", "<UNK>", "<NUM>", "p53", "binds", "rare"}
    assert m["<PAD>"][1] == [0.0] * 200          # PAD zero vector
    assert m["p53"][1] == [1.0] * 200            # pretrained kept
    assert m["binds"][1] == pytest.approx(seeded_vector("binds"), abs=1e-6)
    # deterministic across runs
    m2 = {r.word: list(r.vector)
          for r in build_embedding_matrix(vocab, vectors, spark).collect()}
    assert m2["rare"] == m["rare"][1]


def test_gensim_loader_gated(spark):
    with pytest.raises(NotImplementedError):
        load_gensim_vectors(spark, "/nonexistent.bin")


def test_write_vocab_tables(spark, tmp_path):
    v = spark.createDataFrame([("a", 3)], "word STRING, id INT")
    c = spark.createDataFrame([("a", 2)], "ch STRING, id INT")
    t = spark.createDataFrame([("O", 1)], "tag STRING, id INT")
    write_vocab_tables(v, c, t, str(tmp_path))
    assert spark.read.parquet(str(tmp_path / "vocab")).count() == 1
    assert spark.read.parquet(str(tmp_path / "tag_map")).collect()[0].tag == "O"


def test_train_word2vec_produces_dim_table(spark):
    """A14: in-engine Word2Vec training yields the (word, vector) dim-table
    shape, obeys min_count, and the vectors plug into
    build_embedding_matrix unchanged."""
    from biomedical_ner_spark.sources.embeddings import train_word2vec

    sents = [
        ["p53", "binds", "DNA"],
        ["p53", "activates", "DNA"],
        ["p53", "binds", "RNA"],
        ["BRCA1", "binds", "DNA"],
        ["rareword", "appears", "once"],
    ] * 4  # repeat so contexts exist
    df = spark.createDataFrame([(s,) for s in sents],
                               "tokens ARRAY<STRING>")
    vecs = train_word2vec(df, spark, vector_size=16, min_count=2, max_iter=2)
    rows = {r.word: list(r.vector) for r in vecs.collect()}
    # lowercased, min_count=2 keeps repeated words; all sentences repeat
    # 4x so every word appears >= 4 times
    assert "p53" in rows and "dna" in rows and "binds" in rows
    assert all(len(v) == 16 for v in rows.values())
    assert all(isinstance(x, float) for v in rows.values() for x in v)
    # drop-in: the trained table feeds build_embedding_matrix
    vocab = spark.createDataFrame(
        [("p53", 3), ("unseenword", 4)], "word STRING, id INT")
    m = {r.word: list(r.vector) for r in build_embedding_matrix(
        vocab, vecs, spark, dim=16).collect()}
    assert m["p53"] == pytest.approx(rows["p53"], abs=1e-6)
    assert len(m["unseenword"]) == 16


def test_subword_vector_matches_spark_composition(spark):
    """FastText subword twin: the Spark (explode + inline md5 + keyed agg)
    composition must equal the Python twin's mean-of-ngram-vectors for
    every dimension, and the ngram universe must match gensim semantics
    ('<word>' char 3..6-grams, duplicate occurrences kept)."""
    import numpy as np

    from biomedical_ner_spark.sources.embeddings import (
        subword_mean_components,
        subword_ngrams_py,
        subword_vector,
    )

    assert subword_ngrams_py("x") == ["<x>"]
    grams = subword_ngrams_py("gene")
    assert "<ge" in grams and "gene" in grams and "<gene>" in grams
    assert len(grams) == len("<gene>") * 4 - (3 + 4 + 5 + 6) + 4
    # duplicates kept: 'aaaa' -> 'aaa' twice among the 3-grams of '<aaaa>'
    assert subword_ngrams_py("aaaa").count("aaa") == 2

    words = ["gene", "il-2", "x", "aaaa", "transcription"]
    df = spark.createDataFrame([(w,) for w in words], "word STRING")
    out = subword_mean_components(df, dim=12).collect()
    got = {}
    for r in out:
        got.setdefault(r.word, [0.0] * 12)[r.j] = r.mj
        assert r.n_ngrams == len(subword_ngrams_py(r.word))
    for w in words:
        assert np.allclose(got[w], subword_vector(w, dim=12), atol=1e-8), w


def test_build_embedding_matrix_subword_oov(spark):
    """J4 fallback path with oov='subword': missing words compose from
    char n-grams; PAD stays zero; pretrained vectors still win."""
    import pytest as _pytest

    from biomedical_ner_spark.sources.embeddings import subword_vector

    vocab = spark.createDataFrame(
        [("p53", 3), ("novelgene", 4)], "word STRING, id INT")
    vecs = spark.createDataFrame(
        [("p53", [1.0] * 8)], "word STRING, vector ARRAY<FLOAT>")
    m = {r.word: list(r.vector) for r in build_embedding_matrix(
        vocab, vecs, spark, dim=8, oov="subword").collect()}
    assert m["<PAD>"] == [0.0] * 8
    assert m["p53"] == [1.0] * 8
    assert m["novelgene"] == _pytest.approx(
        subword_vector("novelgene", dim=8), abs=1e-6)
    with _pytest.raises(ValueError):
        build_embedding_matrix(vocab, vecs, spark, dim=8, oov="bogus")


def test_encode_corpus_closure_and_join_paths_agree(spark):
    """F-gate: the dict-closure Arrow path and the dim-frame join path
    must emit identical rows (word ids with NUM/UNK rules, ordered 20-char
    char ids); encode_corpus routes by vocab size."""
    from biomedical_ner_spark.operators.encode import (
        encode_corpus,
        encode_corpus_join,
    )

    docs = spark.createDataFrame(
        [(1, "IL-2 gene 123 activates xyz"),
         (2, "p53 p53 , binds ; supercalifragilisticexpialidocious42"),
         # non-ASCII digits (Arabic-Indic \u0661\u0662\u0663): Python
         # str.isdigit() accepts them but the engine's unified rule is
         # ASCII [0-9]+ on BOTH paths — the size gate must not switch
         # semantics on such input
         (3, "\u0661\u0662\u0663 gene 7")],
        "doc_id BIGINT, text STRING")
    wv = spark.createDataFrame(
        [("il-2", 3), ("gene", 4), ("p53", 5), ("binds", 6)],
        "word STRING, id INT")
    cv = spark.createDataFrame(
        [(c, i + 2) for i, c in enumerate("abcdegilnp25-")],
        "ch STRING, id INT")

    def rows(df):
        return sorted(
            (r.doc_id, r.pos, r.token, r.word_id, tuple(r.char_ids))
            for r in df.collect())

    closure = rows(encode_corpus(docs, wv, cv))           # under gate
    join = rows(encode_corpus_join(docs, wv, cv))
    forced_join = rows(encode_corpus(docs, wv, cv, closure_max=0))
    assert closure == join == forced_join
    by_tok = {(d, p): (t, w, c) for d, p, t, w, c in closure}
    assert by_tok[(1, 2)][1] == 2       # '123' -> <NUM>
    assert by_tok[(1, 3)][1] == 1       # 'xyz' OOV -> <UNK>
    assert by_tok[(1, 0)][1] == 3       # 'IL-2' lowercased hit
    tok, wid, cids = by_tok[(2, 5)]
    assert len(cids) == 20              # 20-char truncation
    assert wid == 1
    assert by_tok[(3, 0)][1] == 1       # non-ASCII digits: UNK, not <NUM>
    assert by_tok[(3, 2)][1] == 2       # ASCII '7' -> <NUM> on both paths


@pytest.mark.parametrize("name", ["encoded_tokens", "vocab_sink"])
def test_query_releases_persisted_token_frame(spark, name):
    """The two registry queries that persist a token frame for their dim
    builds release it: a session serving them repeatedly must not gather
    one cached frame per call."""
    from biomedical_ner_spark import queries as Q
    from tests.conftest import SF_SMALL

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    assert Q.queries()[name](spark, SF_SMALL).count() > 0
    assert jsc.getPersistentRDDs().size() == before
