"""Operator unit tests with Python oracles: dedup (minhash/simhash/jaccard),
similarity top-k, linking determinism, splits, sources."""

import hashlib

import pytest
from pyspark.sql import functions as F

from biomedical_ner_spark.operators import dedup, similarity


@pytest.fixture(scope="module")
def dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base.replace("lazy", "sleepy")),  # near dup
        (3, "completely different content about spark shuffles and joins"),
        (4, "completely different content about spark shuffles and joins"),
        (5, "unrelated short text"),
    ]
    return spark.createDataFrame(rows, "doc_id BIGINT, text STRING")


def test_exact_duplicates(spark, dup_docs):
    got = {
        (r.n_docs, r.keeper_doc_id)
        for r in dedup.exact_duplicates(dup_docs).collect()
    }
    assert got == {(2, 0), (2, 3)}


def test_ngram_jaccard_finds_near_dups(spark, dup_docs):
    pairs = {
        (r.a, r.b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(dup_docs, threshold=0.5).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert pairs[(3, 4)] == 1.0
    assert (0, 2) in pairs and pairs[(0, 2)] < 1.0
    assert (0, 3) not in pairs


def test_minhash_lsh_candidates(spark, dup_docs):
    cands = {
        (r.a, r.b) for r in dedup.lsh_candidate_pairs(dup_docs).collect()
    }
    assert (0, 1) in cands and (3, 4) in cands
    assert (0, 3) not in cands and (0, 5) not in cands


def test_minhash_signature_matches_python_oracle(spark, dup_docs):
    n_hashes = dedup.N_BANDS * dedup.ROWS_PER_BAND
    sig = {
        (r.doc_id, i): r[f"h{i}"]
        for r in dedup.minhash_signatures_wide(dup_docs).collect()
        for i in range(n_hashes)
    }
    from biomedical_ner_spark.core import tokenize_text

    rows = dup_docs.collect()
    for r in rows:
        toks = [t.lower() for t in tokenize_text(r.text)]
        if len(toks) < 3:
            continue
        shingles = {
            " ".join(toks[i:i + 3]) for i in range(len(toks) - 2)
        }
        for i in range(n_hashes):
            want = min(
                hashlib.md5(f"{i}:{s}".encode()).hexdigest()
                for s in shingles
            )
            assert sig[(r.doc_id, i)] == want


def test_simhash_matches_python_oracle(spark, dup_docs):
    got = {r.doc_id: r.simhash for r in dedup.simhash(dup_docs).collect()}
    from biomedical_ner_spark.core import tokenize_text

    for r in dup_docs.collect():
        toks = [t.lower() for t in tokenize_text(r.text)]
        sums = [0] * 32
        for t in toks:
            h = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
            for b in range(32):
                sums[b] += 1 if (h >> b) & 1 else -1
        want = sum(2 ** b for b in range(32) if sums[b] > 0)
        assert got[r.doc_id] == want, r.doc_id
    # identical docs -> identical fingerprints, hamming 0
    assert got[0] == got[1]
    pairs = {
        (r.a, r.b): r.hamming
        for r in dedup.simhash_near_pairs(dup_docs, max_hamming=3).collect()
    }
    assert pairs[(0, 1)] == 0


def test_brute_topk_matches_numpy(spark):
    import numpy as np

    rng = np.random.default_rng(0)
    vecs = rng.standard_normal((40, 8)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id BIGINT, embedding ARRAY<FLOAT>",
    )
    got = {}
    for r in similarity.brute_topk(df, k=3, n_queries=5).collect():
        got.setdefault(r.q, []).append((r.rk, r.c))
    v = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = v @ v.T
    for q in range(5):
        order = sorted(
            (round(-sims[q, c], 6), c) for c in range(40) if c != q
        )
        want = [(rk + 1, c) for rk, (_, c) in enumerate(order[:3])]
        assert sorted(got[q]) == want


def test_lsh_topk_recall(spark):
    import numpy as np

    rng = np.random.default_rng(1)
    vecs = rng.standard_normal((120, 16)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(120)],
        "vec_id BIGINT, embedding ARRAY<FLOAT>",
    )
    exact = {
        (r.q, r.c)
        for r in similarity.brute_topk(df, k=3, n_queries=10).collect()
    }
    approx = {
        (r.q, r.c)
        for r in similarity.lsh_topk(
            df, k=3, n_queries=10, n_planes=4, n_tables=8
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall


def test_linking_determinism_and_top1(spark, golden_docs):
    from biomedical_ner_spark.operators import spans
    from biomedical_ner_spark.operators.linking import link_mentions

    m = spans.mentions(golden_docs)
    l1 = link_mentions(m, spark)
    assert l1.count() == m.count()  # exactly one row per mention
    rows = {
        (r.doc_id, r.start_position): (r.cui, r.link_score, r.linked)
        for r in l1.collect()
    }
    l2 = {
        (r.doc_id, r.start_position): (r.cui, r.link_score, r.linked)
        for r in link_mentions(m, spark).collect()
    }
    assert rows == l2  # deterministic
    # exact alias surfaces link; every mention gets a cui
    assert all(c is not None for c, _, _ in rows.values())
    linked_frac = sum(1 for _, _, lk in rows.values() if lk) / len(rows)
    assert linked_frac > 0.5


def test_splits_deterministic(spark, docs_small):
    from biomedical_ner_spark.operators import splits

    s1 = splits.seeded_shuffle_split(docs_small)
    s2 = splits.seeded_shuffle_split(docs_small)
    a = {(r.doc_id, r.split) for r in s1.collect()}
    b = {(r.doc_id, r.split) for r in s2.collect()}
    assert a == b
    counts = {r.split: r.n_docs
              for r in splits.split_counts(s1).collect()}
    total = sum(counts.values())
    assert counts["train"] == int(total * 0.7)


def test_conll_roundtrip(spark, tmp_path):
    from biomedical_ner_spark.sources.conll import conll_classes, read_conll

    p = tmp_path / "train.tsv"
    p.write_text(
        "-DOCSTART-\tO\n\nIL-2\tB-protein\ngene\tI-protein\n\n"
        "T\tB-cell_type\ncells\tI-cell_type\nrespond\tO\n\n"
    )
    df = read_conll(spark, str(p))
    sents = sorted(
        (tuple(r.tokens), tuple(r.labels)) for r in df.collect()
    )
    assert (("IL-2", "gene"), ("B-protein", "I-protein")) in sents
    assert (("T", "cells", "respond"),
            ("B-cell_type", "I-cell_type", "O")) in sents
    classes = [r.label for r in conll_classes(df).collect()]
    assert classes == sorted(classes)


def test_conll_multi_split_file_preserves_order(spark, tmp_path):
    """Force spark.sql.files.maxPartitionBytes small enough that ONE CoNLL
    file is read as many splits: sentence ids and in-sentence token order
    must still match a sequential parse (the _metadata.file_block_start
    sort key proof — a sentence spanning a split boundary must not tear)."""
    from biomedical_ner_spark.sources.conll import read_conll

    n_sent = 1000
    lines = []
    expected = []
    for s in range(n_sent):
        toks = [(f"tok{s}_{j}", "B-protein" if j == 0 else "O")
                for j in range(1 + s % 7)]
        expected.append(tuple(t for t, _ in toks))
        lines += [f"{t}\t{l}" for t, l in toks] + [""]
    p = tmp_path / "big.tsv"
    p.write_text("\n".join(lines) + "\n")
    assert p.stat().st_size > 8 * 4096  # big enough to split many ways
    conf = spark.conf
    old = conf.get("spark.sql.files.maxPartitionBytes")
    old_cost = conf.get("spark.sql.files.openCostInBytes")
    try:
        conf.set("spark.sql.files.maxPartitionBytes", "4096")
        conf.set("spark.sql.files.openCostInBytes", "0")
        # prove the file really is read as many splits under this conf
        n_splits = spark.read.text(str(p)).rdd.getNumPartitions()
        assert n_splits >= 8, n_splits
        rows = {r.sent_id: tuple(r.tokens)
                for r in read_conll(spark, str(p)).collect()}
    finally:
        conf.set("spark.sql.files.maxPartitionBytes", old)
        conf.set("spark.sql.files.openCostInBytes", old_cost)
    assert len(rows) == n_sent
    # sent_id is the running blank count: sentence s has sent_id s (tokens
    # precede the s-th blank for s=0 ... first sentence id 0)
    got_in_order = [rows[k] for k in sorted(rows)]
    assert got_in_order == expected


def test_ncbi_parse_and_bio_projection(spark, tmp_path):
    from biomedical_ner_spark.sources.ncbi import read_ncbi

    p = tmp_path / "ncbi.txt"
    p.write_text(
        '10021369\tVariants\tThe <category="SpecificDisease">breast cancer'
        "</category> gene affects risk.\n"
    )
    df = read_ncbi(spark, str(p))
    r = df.collect()[0]
    assert r.text == "The breast cancer gene affects risk."
    toks = list(r.tokens)
    labs = list(r.labels)
    assert toks[1:3] == ["breast", "cancer"]
    assert labs[1:3] == ["B-SpecificDisease", "I-SpecificDisease"]
    assert all(lab == "O" for i, lab in enumerate(labs) if i not in (1, 2))


def test_ngram_jaccard_max_df_subset_with_exact_scores(spark, docs_small):
    from biomedical_ner_spark.operators import dedup

    full = {(r.a, r.b): r.jaccard
            for r in dedup.ngram_jaccard_pairs(
                docs_small, threshold=0.5).collect()}
    capped = {(r.a, r.b): r.jaccard
              for r in dedup.ngram_jaccard_pairs(
                  docs_small, threshold=0.5, max_df=5).collect()}
    # capped candidates are a subset, and every surviving pair's score is
    # the exact full-set Jaccard
    assert set(capped) <= set(full)
    for k, v in capped.items():
        assert v == full[k]


def test_lang_id_predicts_fixture_languages(spark):
    from biomedical_ner_spark.queries import q_lang_id

    rows = q_lang_id(spark, "/root/testdata/sf0.01").collect()
    assert len(rows) == 20
    for r in rows:
        assert r.predicted == r.truth, (r.sent_id, r.truth, r.predicted)


def test_ivf_topk_high_recall_on_clustered_vectors(spark):
    """On clustered data (vectors near their sampled centroids) the IVF
    probe must recover nearly all true neighbors; exactness of the
    candidate machinery is separately driver-checked (query ivf_topk)."""
    import numpy as np

    from biomedical_ner_spark.operators import similarity

    rng = np.random.default_rng(11)
    centers = rng.standard_normal((16, 32))
    rows = [(i, [float(x) for x in centers[i]]) for i in range(16)]
    vid = 16
    for rep in range(12):
        for ci in range(16):
            v = centers[ci] + 0.05 * rng.standard_normal(32)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")
    brute = {(r.q, r.c)
             for r in similarity.brute_topk(df, k=3, n_queries=20).collect()}
    ivf = {(r.q, r.c)
           for r in similarity.ivf_topk(
               df, k=3, n_queries=20, n_centroids=16, n_probe=4).collect()}
    recall = len(brute & ivf) / len(brute)
    assert recall >= 0.9, recall


def test_ivf_probe_centroids_independent_of_n_queries(spark):
    """n_queries < n_centroids must not truncate the probe-side centroid
    set: probing for query q must be identical whether q arrives alone or
    with the whole corpus (assignment and probing see the SAME centroids)."""
    import numpy as np

    from biomedical_ner_spark.operators import similarity

    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.standard_normal(16)])
            for i in range(64)]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")
    few = {(r.q, r.c, r.rk) for r in similarity.ivf_topk(
        df, k=3, n_queries=4, n_centroids=16, n_probe=4).collect()}
    many = {(r.q, r.c, r.rk) for r in similarity.ivf_topk(
        df, k=3, n_queries=32, n_centroids=16, n_probe=4).collect()}
    assert few == {t for t in many if t[0] < 4}


def test_centroid_ranks_empty_centroid_set(spark):
    """Sparse / non-zero-based ids leaving no centroids must yield an
    empty assignment frame, not a driver-side numpy AxisError."""
    from biomedical_ner_spark.operators.similarity import _centroid_ranks

    df = spark.createDataFrame(
        [(100, [1.0, 0.0]), (101, [0.0, 1.0])],
        "vec_id BIGINT, embedding ARRAY<FLOAT>")
    out = _centroid_ranks(df, n_centroids=16, top_n=1,
                          id_col="vec_id", vec_col="embedding")
    assert out.count() == 0
    assert out.columns == ["id", "cid"]


def test_corpus_curation_drops_dups_neardups_and_junk(spark):
    from biomedical_ner_spark.queries import curate_documents

    good = "the table scan reads rows from the parquet file " \
           "and the filter drops most of them quickly"
    rows = [
        (0, good),
        (1, good),                            # exact dup -> dropped
        (2, good.upper()),                    # case variant -> same fingerprint -> dropped
        (3, "too short"),                     # < 10 tokens -> dropped
        (4, ", ".join(["."] * 40)),           # punct-heavy -> dropped
        (5, " ".join(["the"] * 30)),          # all stopwords -> dropped
        (6, "another perfectly reasonable document about query engines "
            "with enough distinct tokens to pass the gates"),
    ]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    kept = {r.doc_id for r in curate_documents(df).collect()}
    assert kept == {0, 6}


def test_split_rank_property_vs_local_sort(spark):
    """Bucket-offset global rank == local sorted() membership for random
    id sets, including sizes whose 0.7/0.15 fractions exercise the
    truncation rule and ids that skew the range buckets."""
    import hashlib
    import random

    from biomedical_ner_spark.operators import splits

    rng = random.Random(7)
    for trial, n in enumerate((21, 37, 100)):
        ids = rng.sample(range(0, 10_000_000), n)
        if trial == 1:  # clustered ids: skewed range buckets
            ids = [5_000_000 + i for i in range(n)]
        df = spark.createDataFrame([(i,) for i in ids], "doc_id BIGINT")

        def expect(order):
            n_train, n_dev = int(n * 0.7), int(n * 0.15)
            return {d: ("train" if r < n_train
                        else "dev" if r < n_train + n_dev else "test")
                    for r, d in enumerate(order)}

        seq = {r.doc_id: r.split
               for r in splits.sequential_split(df).collect()}
        assert seq == expect(sorted(ids))

        key = lambda d: (hashlib.md5(f"{d}:42".encode()).hexdigest(), d)
        shuf = {r.doc_id: r.split
                for r in splits.seeded_shuffle_split(df).collect()}
        assert shuf == expect(sorted(ids, key=key))


def test_trained_kmeans_ivf_deterministic_and_no_worse_recall(spark):
    """Spherical k-means quantizer (train_kmeans_centroids): deterministic
    across runs, normalized centroids, and on clustered data the trained
    IVF must keep recall >= the sampled quantizer's."""
    import numpy as np

    from biomedical_ner_spark.operators import similarity

    rng = np.random.default_rng(23)
    centers = rng.standard_normal((8, 24))
    rows = []
    vid = 0
    for rep in range(20):
        for ci in range(8):
            v = centers[ci] + 0.08 * rng.standard_normal(24)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")

    c1 = similarity.train_kmeans_centroids(df, n_centroids=8, n_iter=3)
    c2 = similarity.train_kmeans_centroids(df, n_centroids=8, n_iter=3)
    assert [c for c, _ in c1] == list(range(8))
    for (i1, v1), (i2, v2) in zip(c1, c2):
        assert i1 == i2
        assert np.allclose(v1, v2, atol=1e-12)  # deterministic
        assert abs(np.linalg.norm(v1) - 1.0) < 1e-6  # spherical

    brute = {(r.q, r.c)
             for r in similarity.brute_topk(df, k=3, n_queries=24).collect()}
    sampled = {(r.q, r.c) for r in similarity.ivf_topk(
        df, k=3, n_queries=24, n_centroids=8, n_probe=2).collect()}
    trained = {(r.q, r.c) for r in similarity.ivf_topk(
        df, k=3, n_queries=24, n_centroids=8, n_probe=2,
        train_iters=3).collect()}
    r_sampled = len(brute & sampled) / len(brute)
    r_trained = len(brute & trained) / len(brute)
    assert r_trained >= r_sampled - 1e-9, (r_trained, r_sampled)
    assert r_trained >= 0.9, r_trained


def test_lsh_max_bucket_cap_drops_degenerate_buckets(spark):
    """A bucket of k near-identical docs emits k(k-1)/2 pairs; max_bucket
    must shed such buckets without touching normal ones."""
    rows = [(i, "identical text repeated many times for every doc here ok")
            for i in range(30)]
    rows += [(100, "some other distinct content entirely about spark"),
             (101, "some other distinct content entirely about spark")]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    full = {(r.a, r.b)
            for r in dedup.lsh_candidate_pairs(df).collect()}
    assert (100, 101) in full
    assert len(full) == 30 * 29 // 2 + 1
    capped = {(r.a, r.b)
              for r in dedup.lsh_candidate_pairs(df, max_bucket=5).collect()}
    assert capped == {(100, 101)}


def test_vocab_build_rank_property_random_corpora(spark):
    """Property: vocab_build's bucket-offset dense ids must equal the
    naive (freq desc, word asc) rank + 2 on random corpora with heavy
    ties (the bucket function must be monotone in the order key)."""
    import random

    from biomedical_ner_spark.operators import stats

    rng = random.Random(13)
    alphabet = ["gene", "il-2", "p53", "abc", "abd", "zz", "a", "0x1",
                "Alpha", "ALPHA", "beta-2", "_und", "9", "aa", "ab",
                # non-ASCII: proves Spark's string ordering and Python's
                # agree through the bucket function (code-point order via
                # UTF-8 byte order), incl. a surrogate-pair char
                "β-gene", "émile", "ß", "中文", "ärm", "β", "𝛃x", "ﬁle"]
    for trial in range(3):
        toks = [rng.choice(alphabet) for _ in range(rng.randint(30, 120))]
        df = spark.createDataFrame([(t,) for t in toks], "token STRING")
        got = {r.word: r.id for r in stats.vocab_build(df).collect()}
        from collections import Counter

        cnt = Counter(t.lower() for t in toks)
        want_rows = sorted(
            ((w, c) for w, c in cnt.items() if c >= 2),
            key=lambda wc: (-wc[1], wc[0]))
        want = {w: i + 3 for i, (w, _) in enumerate(want_rows)}
        assert got == want, (trial, got, want)


def test_encode_paths_agree_on_random_ascii_docs(spark):
    """Property: closure and join encode paths are identical on random
    ASCII corpora (tokens hitting NUM/UNK/vocab and char-UNK rules)."""
    import random

    from biomedical_ner_spark.operators.encode import (
        encode_corpus,
        encode_corpus_join,
    )

    rng = random.Random(31)
    words = ["il-2", "gene", "p53", "123", "007", "xyz!", "a" * 25,
             "Mixed-Case", "semi;colon", "dot."]
    docs = [(i, " ".join(rng.choice(words)
                         for _ in range(rng.randint(0, 30))))
            for i in range(12)]
    df = spark.createDataFrame(docs, "doc_id BIGINT, text STRING")
    wv = spark.createDataFrame(
        [("il-2", 3), ("gene", 4), ("mixed-case", 5)], "word STRING, id INT")
    cv = spark.createDataFrame(
        [(c, i + 2) for i, c in enumerate("abcdegilmnpxyz-.123")],
        "ch STRING, id INT")

    def rows(d):
        return sorted((r.doc_id, r.pos, r.token, r.word_id,
                       tuple(r.char_ids)) for r in d.collect())

    assert rows(encode_corpus(df, wv, cv)) == rows(
        encode_corpus_join(df, wv, cv))


def test_stratified_sample_deterministic_and_proportional(spark):
    from biomedical_ner_spark.operators import splits

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    fr = {"en": 0.5, "de": 1.0, "zh": 0.0}
    a = {r.doc_id for r in splits.stratified_sample(docs, fr).collect()}
    b = {r.doc_id for r in splits.stratified_sample(docs, fr).collect()}
    assert a == b  # pure row function: identical under replay
    by_lang = {r.lang: r.n for r in splits.stratified_sample(docs, fr)
               .groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    totals = {r.lang: r.n for r in docs.groupBy("lang")
              .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert "zh" not in by_lang and "es" not in by_lang
    assert by_lang["de"] == totals["de"]  # fraction 1.0 keeps all
    assert 0.3 < by_lang["en"] / totals["en"] < 0.7  # ~0.5
    # different seed -> different membership (same sizes statistically)
    c = {r.doc_id
         for r in splits.stratified_sample(docs, fr, seed=7).collect()}
    assert c != a


def test_sequential_split_hash_scale_ids(spark):
    """64-bit hash-derived doc ids (the pipeline's own xxhash64 range,
    spanning ~1.8e19) must split without ANSI overflow and in exact
    doc_id-rank order."""
    ids = [-9_100_000_000_000_000_000, -5, 0, 3,
           9_100_000_000_000_000_000, 42, 7_000_000_000_000_000_001,
           -8_999_999_999_999_999_999, 1_000, -1_000]
    from biomedical_ner_spark.operators import splits

    df = spark.createDataFrame([(i,) for i in ids], "doc_id BIGINT")
    got = {r.doc_id: r.split
           for r in splits.sequential_split(df).collect()}
    ranked = sorted(ids)
    n_train, n_dev = int(len(ids) * 0.7), int(len(ids) * 0.15)
    want = {d: ("train" if i < n_train else
                "dev" if i < n_train + n_dev else "test")
            for i, d in enumerate(ranked)}
    assert got == want


def test_simhash_near_pairs_blocks_scale_with_max_hamming(spark, dup_docs):
    """Pigeonhole recall at max_hamming > 3: blocking derives
    max_hamming+1 blocks, so qualifying pairs cannot be silently dropped;
    results equal the brute-force hamming filter."""
    import itertools

    for mh in (3, 5):
        got = {(r.a, r.b): r.hamming
               for r in dedup.simhash_near_pairs(
                   dup_docs, max_hamming=mh).collect()}
        sh = {r.doc_id: r.simhash for r in dedup.simhash(dup_docs).collect()}
        want = {}
        for a, b in itertools.combinations(sorted(sh), 2):
            h = bin(sh[a] ^ sh[b]).count("1")
            if h <= mh:
                want[(a, b)] = h
        assert got == want, mh
    try:
        dedup.simhash_near_pairs(dup_docs, bits=32, max_hamming=32)
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_lsh_default_cap_is_finite_and_audited(spark):
    """Scale-path default: a degenerate bucket larger than
    DEFAULT_MAX_BUCKET must be shed by the DEFAULT call (no k^2/2 pair
    expand in one task), and oversize_buckets must report exactly what
    was shed.  The exact configuration stays reachable via
    max_bucket=None."""
    k = dedup.DEFAULT_MAX_BUCKET + 50
    rows = [(i, "one shared boilerplate sentence repeated verbatim")
            for i in range(k)]
    rows += [(k + 1, "a genuinely distinct document about spark plans"),
             (k + 2, "a genuinely distinct document about spark plans")]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    assert dedup.DEFAULT_MAX_BUCKET is not None
    capped = {(r.a, r.b) for r in dedup.lsh_candidate_pairs(df).collect()}
    assert capped == {(k + 1, k + 2)}  # degenerate bucket shed by default
    audit = dedup.oversize_buckets(df).collect()
    assert audit and all(r.n_docs == k for r in audit)
    # the exact configuration still emits the full pair set
    n_exact = dedup.lsh_candidate_pairs(df, max_bucket=None).count()
    assert n_exact == k * (k - 1) // 2 + 1
    # simhash blocking honors the same default cap
    sim_capped = {(r.a, r.b)
                  for r in dedup.simhash_near_pairs(df).collect()}
    assert sim_capped == {(k + 1, k + 2)}


def test_cooc_default_mention_cap(spark):
    """Default-path fanout guard (triples.DEFAULT_MAX_MENTIONS_PER_SCOPE):
    a synthetic mega-doc with more mentions than MAX_SEQ_LEN is capped to
    the first N by start position under the DEFAULT call — so a
    long-sequence configuration cannot silently reopen O(n^2) pair
    fanout — while a normal doc and the explicit None opt-out are
    untouched.  The cap can never bind on truncated input (mentions/doc
    <= MAX_SEQ_LEN by construction)."""
    from biomedical_ner_spark.operators.triples import (
        DEFAULT_MAX_MENTIONS_PER_SCOPE, cooc_pairs)

    cap = DEFAULT_MAX_MENTIONS_PER_SCOPE
    n_mega = cap + 150
    rows = [(1, f"m{i}", "DISEASE", i * 3, i * 3 + 1)
            for i in range(n_mega)]
    rows += [(2, f"s{i}", "CHEMICAL", i * 5, i * 5 + 1) for i in range(3)]
    m = spark.createDataFrame(
        rows,
        "doc_id BIGINT, text STRING, type STRING,"
        " start_position INT, end_position INT",
    )
    got = cooc_pairs(m)
    per_doc = {r.doc_id: r.n for r in got.groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert per_doc[1] == cap * (cap - 1) // 2
    assert per_doc[2] == 3
    # capped set = pairs over the FIRST `cap` mentions by start position
    max_start = {r[0] for r in got.where("doc_id = 1")
                 .agg(F.max("obj_start")).collect()}
    assert max_start == {(cap - 1) * 3}
    # explicit opt-out reproduces the exact quadratic set
    n_exact = cooc_pairs(m, max_mentions_per_scope=None) \
        .where("doc_id = 1").count()
    assert n_exact == n_mega * (n_mega - 1) // 2
