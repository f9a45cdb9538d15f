"""Tests for dedup / similarity / text / multimodal / spec / checkpoint /
sources — the training-data-pipeline operator set."""

import itertools
import json
import os
from collections import Counter

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from light_curve_python_spark.operators import dedup
from light_curve_python_spark.operators.dedup import (
    exact_dedup,
    lsh_candidates,
    minhash_signatures,
    nearest_neighbor_jaccard,
    ngram_jaccard_pairs,
    shingle,
    simhash64,
)
from light_curve_python_spark.operators.multimodal import (
    attach_media_metadata,
    decode_and_featurize,
)
from light_curve_python_spark.operators.similarity import cosine_topk, lsh_topk
from light_curve_python_spark.operators.text import (
    language_id,
    rolling_fingerprint,
    text_quality,
    token_count_bpe_ish,
)
from light_curve_python_spark.plans.checkpoint import CheckpointedRun
from light_curve_python_spark.plans.spec import FeatureSpec
from light_curve_python_spark.sources.readers import (
    mag_to_flux,
    validate_observations,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en"),
        (1, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup
        (2, "the quick brown fox jumps over a lazy dog", "en"),    # near dup
        (3, "der hund und die katze sind ein team", "de"),
        (4, "le chat et le chien sont les amis", "fr"),
        (5, "completely different words entirely here now", "en"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang"]).cache()


def test_exact_dedup(spark, docs):
    out = exact_dedup(docs, ["text"]).toPandas().sort_values("doc_id")
    assert 1 not in set(out.doc_id)  # duplicate dropped, min id kept
    assert 0 in set(out.doc_id)
    assert out[out.doc_id == 0].dup_count.iloc[0] == 2
    assert out[out.doc_id == 2].dup_count.iloc[0] == 1


def test_minhash_lsh_finds_near_dup(spark, docs):
    sigs = minhash_signatures(docs, n_hashes=16, k=2)
    pairs = lsh_candidates(sigs, n_hashes=16, bands=8).toPandas()
    got = set(map(tuple, pairs[["id_a", "id_b"]].to_numpy()))
    assert (0, 1) in got  # identical docs always collide


def test_ngram_jaccard_pairs(spark, docs):
    out = ngram_jaccard_pairs(docs, k=2, threshold=0.5).toPandas()
    got = {(a, b): j for a, b, j in out.to_numpy()}
    assert got[(0, 1)] == pytest.approx(1.0)
    assert (0, 2) in got and 0.5 <= got[(0, 2)] < 1.0
    assert (0, 5) not in got


def test_simhash_identical_docs_equal(spark, docs):
    out = simhash64(docs).toPandas().set_index("doc_id")
    assert out.loc[0, "simhash"] == out.loc[1, "simhash"]
    # near dup should be within a few bits
    x = int(out.loc[0, "simhash"]) ^ int(out.loc[2, "simhash"])
    assert bin(x & ((1 << 64) - 1)).count("1") <= 16


def test_shingle_counts(spark, docs):
    sh = shingle(docs, k=3).toPandas()
    n0 = len(sh[sh.doc_id == 0])
    assert n0 == 7  # 9 words -> 7 distinct trigrams


def test_cosine_topk_exact(spark):
    rng = np.random.default_rng(0)
    vecs = rng.normal(size=(50, 8)).astype(np.float64)
    pdf = pd.DataFrame({"vec_id": range(50), "embedding": list(vecs)})
    df = spark.createDataFrame(pdf)
    probes = df.filter(F.col("vec_id") < 3)
    got = cosine_topk(df, probes, k=5).toPandas()
    norms = np.linalg.norm(vecs, axis=1)
    for pid in range(3):
        cos = vecs @ vecs[pid] / (norms * norms[pid])
        cos[pid] = -np.inf
        want = np.argsort(-cos, kind="stable")[:5]
        g = got[got.probe_id == pid].sort_values("rank")
        np.testing.assert_array_equal(g.neighbor_id.to_numpy(), want)
        np.testing.assert_allclose(
            g.cosine.to_numpy(), np.sort(cos)[::-1][:5], rtol=1e-9)


def test_lsh_topk_recall(spark):
    rng = np.random.default_rng(1)
    base = rng.normal(size=(40, 16))
    # make clear nearest neighbors: tight pairs
    vecs = np.vstack([base, base + 0.01 * rng.normal(size=(40, 16))])
    pdf = pd.DataFrame({"vec_id": range(80), "embedding": list(vecs)})
    df = spark.createDataFrame(pdf)
    probes = df.filter(F.col("vec_id") < 5)
    got = lsh_topk(df, probes, k=1, dim=16, n_planes=6, n_tables=4) \
        .toPandas()
    hits = sum(1 for pid in range(5)
               if not got[(got.probe_id == pid)
                          & (got.neighbor_id == pid + 40)].empty)
    assert hits >= 3  # approximate: most twins found


def test_text_quality_and_langid(spark, docs):
    tq = text_quality(docs).toPandas().set_index("doc_id")
    assert tq.loc[0, "n_words"] == 9
    assert tq.loc[0, "n_distinct_words"] == 8
    assert tq.loc[0, "stopword_ratio"] == pytest.approx(2 / 9)
    li = language_id(docs).toPandas().set_index("doc_id")
    assert li.loc[0, "predicted_lang"] == "en"
    assert li.loc[3, "predicted_lang"] == "de"
    assert li.loc[4, "predicted_lang"] == "fr"


def test_token_counts_and_fingerprint(spark, docs):
    tc = token_count_bpe_ish(spark.createDataFrame(
        [(9, "hello world 42!")], ["doc_id", "text"])).toPandas()
    assert tc.n_whitespace_tokens.iloc[0] == 3
    # hello, world, 4, 2, ! -> 5
    assert tc.n_bpe_ish_tokens.iloc[0] == 5
    fp = rolling_fingerprint(docs).toPandas().set_index("doc_id")
    assert fp.loc[0, "fingerprint"] == fp.loc[1, "fingerprint"]
    assert fp.loc[0, "fingerprint"] != fp.loc[2, "fingerprint"]


def test_multimodal_stub_pipeline(spark):
    rows = [("m1", b"\x01\x02\x03"), ("m2", b"\xff" * 100)]
    df = attach_media_metadata(
        spark.createDataFrame(rows, ["media_id", "payload"]))
    assert df.schema["meta"].dataType.fieldNames()[0] == "kind"
    out = decode_and_featurize(df, codec="stub").toPandas() \
        .set_index("media_id")
    assert out.loc["m1", "n_bytes"] == 3
    assert len(out.loc["m1", "feature"]) == 8
    import hashlib
    assert out.loc["m2", "sha256"] == hashlib.sha256(b"\xff" * 100).hexdigest()
    # real codecs reject byte soup with a clear message (supported set)
    with pytest.raises(Exception, match="netpbm|WAV|YUV4MPEG2"):
        decode_and_featurize(df, codec="real").collect()


def test_feature_spec_roundtrip():
    spec = FeatureSpec.of("amplitude", ("beyond_n_std", {"nstd": 2.0}),
                          "linear_fit", fill_value=-1.0)
    j = spec.to_json()
    back = FeatureSpec.from_json(j)
    assert back == spec
    ex = back.to_extractor()
    assert "beyond_2_std" in ex.names
    with pytest.raises(ValueError):
        FeatureSpec.of("not_a_feature")


def test_checkpointed_run_resume(spark, tmp_path):
    from light_curve_python_spark.datagen import generate_probes
    probes = generate_probes(spark, 12, probes_per_entity=4, seed=1) \
        .select("doc_id", "ts")
    out = str(tmp_path / "run1")
    run = CheckpointedRun(out, "doc_id", n_buckets=4, spec_json="{}")
    calls = []

    def compute(subset):
        calls.append(1)
        return subset.withColumn("feat", F.col("ts") * 2)

    done1 = run.run(probes, compute)
    assert sorted(done1) == [0, 1, 2, 3]
    assert len(calls) == 4
    # resume: nothing to do
    done2 = run.run(probes, compute)
    assert done2 == []
    assert len(calls) == 4
    result = run.read(spark)
    assert result.count() == 48

    def digest(df):
        return sorted(repr(tuple(r)) for r in df.collect())

    want = digest(result)
    # manifest carries lineage + metrics
    assert len(run.completed_buckets()) == 4
    # a crash mid-bucket leaves a truncated trailing manifest line and a
    # partial part file in that bucket's directory: the unparseable line is
    # skipped, only that bucket re-runs, and the garbage part is replaced
    with open(run.manifest_path) as f:
        lines = f.readlines()
    torn = json.loads(lines[-1])["bucket"]
    with open(run.manifest_path, "w") as f:
        f.writelines(lines[:-1])
        f.write(lines[-1][: len(lines[-1]) // 2])  # torn write
    with open(os.path.join(out, f"bucket={torn}",
                           "part-99999-torn.snappy.parquet"), "wb") as f:
        f.write(b"PAR1" + os.urandom(64))           # partial part file
    assert len(run.completed_buckets()) == 3
    done3 = run.run(probes, compute)
    assert done3 == [torn]
    assert len(run.completed_buckets()) == 4
    assert digest(run.read(spark)) == want


def test_validate_and_mag_to_flux(spark):
    pdf = pd.DataFrame({
        "doc_id": ["a"] * 5,
        "t": [1.0, 2.0, 2.0, 3.0, float("nan")],
        "m": [1.0, 2.0, 2.5, float("inf"), 5.0],
        "sigma": [0.1] * 5,
    })
    out = validate_observations(spark.createDataFrame(pdf)).toPandas() \
        .sort_values("t")
    assert len(out) == 2  # nan t dropped, inf m dropped, dup t deduped
    assert out.t.tolist() == [1.0, 2.0]

    flux = mag_to_flux(spark.createDataFrame(
        pd.DataFrame({"doc_id": ["a"], "t": [1.0], "m": [20.0],
                      "sigma": [0.1]}))).toPandas()
    assert flux.m.iloc[0] == pytest.approx(10 ** (-0.4 * 20.0))


def test_ivf_topk_recall(spark):
    from light_curve_python_spark.operators.similarity import ivf_topk
    rng = np.random.default_rng(7)
    # clustered corpus so IVF cells are meaningful
    centers = rng.normal(size=(4, 16)) * 5
    vecs = np.vstack([c + rng.normal(size=(30, 16)) * 0.3 for c in centers])
    pdf = pd.DataFrame({"vec_id": range(len(vecs)), "embedding": list(vecs)})
    df = spark.createDataFrame(pdf)
    probes = df.filter(F.col("vec_id").isin(0, 30, 60, 90))
    got = ivf_topk(df, probes, k=3, n_cells=4, n_probe_cells=2) \
        .toPandas()
    exact = cosine_topk(df, probes, k=3).toPandas()
    # recall@3 vs exact
    hits = 0
    for pid in exact.probe_id.unique():
        want = set(exact[exact.probe_id == pid].neighbor_id)
        have = set(got[got.probe_id == pid].neighbor_id)
        hits += len(want & have)
    assert hits >= 10  # >= 10/12 neighbors recovered


def test_default_transforms(spark):
    from light_curve_python_spark.datagen import generate_observations
    from light_curve_python_spark.operators.extract import FeatureExtractor
    obs = generate_observations(spark, 4, seed=2, n_obs_choices=(50,))
    plain = FeatureExtractor(["kurtosis", "reduced_chi2", "mean"])
    trans = FeatureExtractor(["kurtosis", "reduced_chi2", "mean"],
                             transforms="default")
    a = plain.extract(obs).toPandas().set_index("doc_id").sort_index()
    b = trans.extract(obs).toPandas().set_index("doc_id").sort_index()
    np.testing.assert_allclose(b["kurtosis"].to_numpy(),
                               np.arcsinh(a["kurtosis"].to_numpy()),
                               rtol=1e-12)
    np.testing.assert_allclose(b["reduced_chi2"].to_numpy(),
                               np.log1p(a["reduced_chi2"].to_numpy()),
                               rtol=1e-12)
    np.testing.assert_allclose(b["mean"].to_numpy(), a["mean"].to_numpy())


def test_exact_dedup_column_boundaries(spark):
    # ("ab","c") vs ("a","bc") must NOT be one duplicate group — regression
    # for separator-based digests
    rows = [(0, "ab", "c"), (1, "a", "bc"), (2, "ab", "c")]
    df = spark.createDataFrame(rows, ["doc_id", "x", "y"])
    out = exact_dedup(df, ["x", "y"]).toPandas().sort_values("doc_id")
    assert set(out.doc_id) == {0, 1}
    assert out[out.doc_id == 0].dup_count.iloc[0] == 2
    assert out[out.doc_id == 1].dup_count.iloc[0] == 1


def test_ngram_jaccard_hot_shingle_bounded(spark):
    # 30 docs share ONE hot bigram but are otherwise disjoint; with
    # max_shingle_df=2 the hot shingle generates no candidates, so only the
    # planted near-dup pair (sharing rare shingles) survives — and its
    # jaccard is still computed on the FULL shingle sets
    hot = "common tail"
    rows = [(i, f"w{i}a w{i}b w{i}c {hot}") for i in range(30)]
    rows.append((100, "alpha beta gamma delta " + hot))
    rows.append((101, "alpha beta gamma delta " + hot))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = ngram_jaccard_pairs(df, k=2, threshold=0.5,
                              max_shingle_df=2).toPandas()
    got = {(a, b): j for a, b, j in out.to_numpy()}
    assert set(got) == {(100, 101)}
    assert got[(100, 101)] == pytest.approx(1.0)  # full-set jaccard, exact
    # candidate generation itself is bounded: pairs sharing ONLY the hot
    # shingle never enter the join
    all_pairs = ngram_jaccard_pairs(df, k=2, threshold=0.0,
                                    max_shingle_df=2).toPandas()
    assert len(all_pairs) == 1


def _kgram_sets(rows, k):
    """({id: set of word k-grams}, Counter of k-gram document frequency)."""
    sets = {}
    for i, text in rows:
        ws = text.split()
        sets[i] = {" ".join(ws[j:j + k]) for j in range(len(ws) - k + 1)}
    return sets, Counter(s for v in sets.values() for s in v)


def _jaccard_reference(rows, k, threshold, max_df):
    """Serial set-Jaccard: pairs sharing a word k-gram whose document
    frequency is <= max_df (any shared k-gram when None), scored on the
    FULL k-gram sets."""
    sets, df = _kgram_sets(rows, k)
    out = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        shared = sets[a] & sets[b]
        if not any(max_df is None or df[s] <= max_df for s in shared):
            continue
        j = len(shared) / len(sets[a] | sets[b])
        if j >= threshold:
            out[(a, b)] = j
    return out


def _nearest_reference(rows, k, max_df):
    """Serial top-1: {id: (nearest id, jaccard)} over the k-gram sets
    restricted to k-grams of document frequency <= max_df — max Jaccard,
    then min neighbour id (permutations of a sorted list visit each
    doc's neighbours in ascending order, so ``>`` keeps the first tie)."""
    sets, df = _kgram_sets(rows, k)
    kept = {i: {s for s in v if max_df is None or df[s] <= max_df}
            for i, v in sets.items()}
    best = {}
    for a, b in itertools.permutations(sorted(kept), 2):
        inter = len(kept[a] & kept[b])
        if inter:
            j = inter / (len(kept[a]) + len(kept[b]) - inter)
            if a not in best or j > best[a][1]:
                best[a] = (b, j)
    return best


@pytest.mark.parametrize("generator", ["explode", "hof"])
@pytest.mark.parametrize("ids", ["int32", "negative", "wide", "string"])
def test_ngram_jaccard_pairs_every_id_width(spark, monkeypatch, ids,
                                            generator):
    """int32 ids take the packed pair key (widened before the shift)
    behind the double explode; negative, >= 2^31 and string ids, and
    every id behind the HOF generator, take the two-column key.  Every
    case, in exact and capped mode, must equal a serial set-Jaccard
    reference; ``nearest_neighbor_jaccard`` must equal a serial top-1
    over the df-pruned sets, ties (this 6-letter corpus has some) to the
    smaller neighbour id."""
    if generator == "hof":
        # the 24-member "hot tail" list is longer than this threshold
        monkeypatch.setattr(dedup, "HOF_MIN_LIST", 8)
    rng = np.random.default_rng(7)
    texts = [" ".join(rng.choice(list("abcdef"), size=rng.integers(4, 9)))
             + " hot tail" for _ in range(24)]
    id_of, id_type = {
        "int32": (lambda i: i, "int"),
        "negative": (lambda i: i - 12, "bigint"),
        "wide": (lambda i: (1 << 31) + 3 * i, "bigint"),
        "string": (lambda i: f"d{i:02d}", "string"),
    }[ids]
    rows = [(id_of(i), t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, f"doc_id {id_type}, text string")
    for cap in (None, 5):
        out = ngram_jaccard_pairs(df, k=2, threshold=0.25,
                                  max_shingle_df=cap)
        assert out.schema["id_a"].dataType.simpleString() == id_type
        got = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
        want = _jaccard_reference(rows, 2, 0.25, cap)
        assert want and set(got) == set(want), (cap, got, want)
        for pair, j in want.items():
            assert got[pair] == pytest.approx(j, abs=1e-12), (cap, pair)
        nn = nearest_neighbor_jaccard(shingle(df, k=2), "doc_id", cap)
        assert nn.schema["nearest_doc_id"].dataType.simpleString() == id_type
        got = {r.doc_id: (r.nearest_doc_id, r.jaccard) for r in nn.collect()}
        assert got == _nearest_reference(rows, 2, cap), cap


def test_exact_dedup_null_columns_distinct(spark):
    # ("ab", NULL) and (NULL, "ab") must be DIFFERENT groups — xxhash64
    # treats a NULL column as a no-op on the seed and collides them
    rows = [(0, "ab", None), (1, None, "ab"), (2, "ab", None)]
    df = spark.createDataFrame(rows, "doc_id long, x string, y string")
    out = exact_dedup(df, ["x", "y"]).toPandas().sort_values("doc_id")
    assert set(out.doc_id) == {0, 1}
    assert out[out.doc_id == 0].dup_count.iloc[0] == 2
    assert out[out.doc_id == 1].dup_count.iloc[0] == 1


def test_embed_sequences_pipeline(spark):
    """Embedding pipeline (reduction -> batched encoder -> L2-normalized
    array<float>): deterministic under repartitioning and batch size,
    mask-aware, and composable with the ANN operator."""
    from light_curve_python_spark.datagen import generate_sequences
    from light_curve_python_spark.operators.embed import (
        embed_sequences,
        random_projection_encoder,
    )
    from light_curve_python_spark.operators.similarity import cosine_topk

    seqs = generate_sequences(spark, 30, seed=4).cache()
    out = embed_sequences(seqs, seq_size=32, dim=16).toPandas() \
        .set_index("doc_id").sort_index()
    assert set(out.columns) >= {"tokens", "embedding"}
    embs = np.stack(out.embedding.to_numpy())
    assert embs.shape == (30, 16)
    np.testing.assert_allclose(np.linalg.norm(embs, axis=1), 1.0, rtol=1e-5)
    # deterministic under partitioning AND batch boundaries
    out2 = embed_sequences(seqs.repartition(7), seq_size=32, dim=16,
                           batch_size=3).toPandas() \
        .set_index("doc_id").sort_index()
    np.testing.assert_array_equal(
        embs, np.stack(out2.embedding.to_numpy()))
    # mask-aware: padding tokens must not affect the embedding — verify by
    # computing the encoder on the true window only
    enc = random_projection_encoder(dim=16)
    pdf = seqs.toPandas().set_index("doc_id").sort_index()
    first = out.index[0]
    doc0 = np.asarray(pdf.loc[first, "tokens"])[:32]
    seq = np.zeros((1, 32), dtype=np.int64)
    seq[0, :len(doc0)] = doc0
    mask = np.zeros((1, 32), dtype=bool)
    mask[0, :len(doc0)] = True
    want = enc(seq, mask)[0]
    want = want / np.linalg.norm(want)
    np.testing.assert_allclose(embs[0], want, rtol=1e-5)
    # composes with ANN: self-similarity tops the list
    edf = embed_sequences(seqs, seq_size=32, dim=16)
    probe_ids = [str(i) for i in out.index[:2]]
    probes = edf.filter(F.col("doc_id").cast("string").isin(probe_ids)) \
        .select(F.col("doc_id").alias("vec_id"), "embedding")
    corpus = edf.select(F.col("doc_id").alias("vec_id"), "embedding")
    nn = cosine_topk(corpus, probes, k=1).toPandas()
    assert len(nn) == 2


def test_minhash_dedup_end_to_end(spark, docs):
    """The composed pipeline (signatures -> LSH -> exact-jaccard verify ->
    connected components): exact + near dups of doc 0 group under the min
    id, everything else is its own canonical."""
    from light_curve_python_spark.operators.dedup import minhash_dedup
    out = minhash_dedup(docs, k=2, n_hashes=16, n_bands=8,
                        threshold=0.5).toPandas().set_index("id")
    assert len(out) == 6                      # whole corpus covered
    assert out.loc[1, "component"] == 0       # exact dup
    assert out.loc[2, "component"] == 0       # near dup (1-word change)
    for d in (3, 4, 5):
        assert out.loc[d, "component"] == d
        assert bool(out.loc[d, "is_canonical"])
    assert not bool(out.loc[1, "is_canonical"])
    assert set(out[out.is_canonical].index) == {0, 3, 4, 5}


def test_hash_sample_deterministic_and_stratified(spark):
    from light_curve_python_spark.operators.sampling import hash_sample
    rows = [(i, f"src{i % 3}") for i in range(3000)]
    df = spark.createDataFrame(rows, ["doc_id", "source"]).cache()
    rates = {"src0": 1.0, "src1": 0.5, "src2": 0.0}
    a = hash_sample(df, rates, seed=1).toPandas()
    b = hash_sample(df.repartition(17), rates, seed=1).toPandas()
    # pure function of (key, seed): identical under repartitioning
    assert set(a.doc_id) == set(b.doc_id)
    by_src = a.groupby("source").size()
    assert by_src.get("src0", 0) == 1000          # rate 1.0 keeps all
    assert "src2" not in by_src.index             # rate 0 keeps none
    assert 380 <= by_src.get("src1", 0) <= 620    # ~half
    # a different seed redraws
    c = hash_sample(df, rates, seed=2).toPandas()
    assert set(c[c.source == "src1"].doc_id) \
        != set(a[a.source == "src1"].doc_id)
    # unknown strata follow default_rate
    d = hash_sample(df, {"other": 1.0}, seed=1, default_rate=0.0)
    assert d.count() == 0


def test_quality_filter_signals_and_gate(spark):
    from light_curve_python_spark.operators.text import quality_filter
    rows = [
        (0, "the quick brown fox jumps over the lazy dog today", "en"),
        (1, "a b c d e f g h i j", "en"),              # avg_word_len 1
        (2, "!!! ??? ... ;;; ::: @@@ $$$ %%% ^^^ &&&", "en"),  # punct
        (3, "der hund und die katze laufen durch den park heute", "de"),
        (4, "ein zwei drei vier", "de"),               # too short
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = quality_filter(df, min_words=5, min_avg_word_len=2.0,
                         max_punct_ratio=0.2, min_stopword_ratio=0.0,
                         langs=("en", "de")).toPandas().set_index("doc_id")
    assert bool(out.loc[0, "keep"]) and bool(out.loc[3, "keep"])
    assert not bool(out.loc[1, "keep"])   # avg word len 1 < 2
    assert not bool(out.loc[2, "keep"])   # punctuation
    assert not bool(out.loc[4, "keep"])   # 4 words < 5
    assert out.loc[0, "n_words"] == 10
    assert out.loc[1, "avg_word_len"] == 1.0


def test_word_bigrams_counts(spark):
    from light_curve_python_spark.operators.text import word_bigrams
    df = spark.createDataFrame(
        [(0, "a b a b a b"), (1, "a b c"), (2, "x")],
        ["doc_id", "text"])
    out = word_bigrams(df, min_count=1).toPandas() \
        .set_index("bigram")["n"].to_dict()
    assert out == {"a b": 4, "b a": 2, "b c": 1}
    top = word_bigrams(df, min_count=2).toPandas()
    assert set(top.bigram) == {"a b", "b a"}


def test_word_ngrams_short_and_null_arrays(spark):
    """k-grams of consecutive words; fewer than k words (or a null array)
    give an empty array, never a reversed sequence."""
    from pyspark.sql import functions as F

    from light_curve_python_spark.operators.text import word_ngrams
    rows = [(0, []), (1, ["a"]), (2, ["a", "b"]), (3, ["a", "b", "c"]),
            (4, None)]
    df = spark.createDataFrame(rows, "id int, w array<string>")
    got = {r.id: (r.g1, r.g2, r.g3) for r in df.select(
        "id", *[word_ngrams(F.col("w"), k).alias(f"g{k}")
                for k in (1, 2, 3)]).collect()}
    for i, w in rows:
        w = w or []
        assert got[i] == tuple(
            [" ".join(w[j:j + k]) for j in range(len(w) - k + 1)]
            for k in (1, 2, 3)), i


def test_ngram_contamination(spark):
    from light_curve_python_spark.operators.dedup import ngram_contamination
    train = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta"),
         (1, "one two three four five six seven"),
         (2, "unrelated words entirely different here")],
        ["doc_id", "text"])
    ev = spark.createDataFrame(
        [(100, "alpha beta gamma delta nine ten"),   # shares 2 trigrams w/ 0
         (101, "nothing in common at all")],
        ["doc_id", "text"])
    out = ngram_contamination(train, ev, k=3,
                              max_shingle_df=None).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert (r.eval_id, r.train_id, r.n_shared) == (100, 0, 2)
    # eval doc 100 has 4 trigrams; 2 shared => frac 0.5
    assert r.frac_of_eval == pytest.approx(0.5)
    # pruning a boilerplate shingle present in many train docs drops pairs
    # that share ONLY it
    boiler = [(i, "x y z filler filler2 filler3") for i in range(10, 20)]
    train2 = spark.createDataFrame(
        [(0, "alpha beta gamma")] + boiler, ["doc_id", "text"])
    ev2 = spark.createDataFrame([(200, "x y z only here")],
                                ["doc_id", "text"])
    pruned = ngram_contamination(train2, ev2, k=3, max_shingle_df=5)
    assert pruned.count() == 0
    unpruned = ngram_contamination(train2, ev2, k=3, max_shingle_df=None)
    assert unpruned.count() == 10


def test_pii_scrub(spark):
    from light_curve_python_spark.operators.text import pii_scrub
    rows = [
        (0, "mail me at jane.doe+x@sub.example.org or call +1 (555) 123-4567"),
        (1, "server 192.168.0.1 and 10.0.0.255 no contacts"),
        (2, "clean text with no pii at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = pii_scrub(df).toPandas().set_index("doc_id")
    assert out.loc[0, "n_email"] == 1 and out.loc[0, "n_phone"] == 1
    assert "<EMAIL>" in out.loc[0, "text_clean"]
    assert "<PHONE>" in out.loc[0, "text_clean"]
    assert "jane" not in out.loc[0, "text_clean"]
    assert out.loc[1, "n_ipv4"] == 2
    assert out.loc[1, "text_clean"].count("<IP>") == 2
    assert out.loc[2, ["n_email", "n_phone", "n_ipv4"]].sum() == 0
    assert out.loc[2, "text_clean"] == "clean text with no pii at all"


def test_feature_spec_does_not_mutate_caller_dicts():
    params = {}
    feats = [{"name": "periodogram", "params": params}]
    sp = FeatureSpec(feats)
    assert sp.features[0]["params"]["fast"] is True   # normalized copy
    assert params == {}                               # caller untouched
    assert feats[0]["params"] is params


def test_minhash_dedup_hot_boilerplate_not_merged(spark):
    """Verification runs on FULL shingle sets: docs sharing only a hot
    boilerplate template with true Jaccard below threshold must NOT be
    merged (round-3 review finding: pruned verify sets would inflate the
    score to 1.0)."""
    from light_curve_python_spark.operators.dedup import minhash_dedup
    boiler = "standard footer text common to every page here"
    rows = [(0, "rare alpha beta gamma delta content " + boiler),
            (1, "other unique words entirely different stuff " + boiler)]
    rows += [(i, f"filler{i} junk{i} page{i} " + boiler)
             for i in range(2, 12)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = minhash_dedup(df, k=2, n_hashes=16, n_bands=16,
                        threshold=0.6).toPandas().set_index("id")
    # docs 0 and 1 share ONLY boilerplate shingles; true jaccard << 0.6
    assert out.loc[0, "component"] != out.loc[1, "component"] \
        or out.loc[0, "component"] == 0 and out.loc[1, "component"] == 1
    assert bool(out.loc[1, "is_canonical"])


def test_review_fixes_operator_guards(spark):
    """Round-4 review regressions: sigma-less extract works when no
    kernel needs sigma; empty token arrays yield ZERO windows (not a fake
    all-padding block); banded extract_binned is rejected clearly; asof
    rejects reserved internal names; lsh_candidates validates
    divisibility; pii counts match the redactions actually made."""
    import pytest
    from pyspark.sql import functions as F

    from light_curve_python_spark.operators.asof import asof_join
    from light_curve_python_spark.operators.dedup import lsh_candidates
    from light_curve_python_spark.operators.extract import FeatureExtractor
    from light_curve_python_spark.operators.reductions import (
        non_overlapping_windows)
    from light_curve_python_spark.operators.text import pii_scrub

    # sigma-less dataset + sigma-free kernels: no 'sigma' column at all
    obs = spark.createDataFrame(
        [("a", float(i), float(i % 7)) for i in range(30)],
        "doc_id string, t double, m double")
    out = FeatureExtractor(["amplitude", "mean"]).extract(obs).collect()
    assert len(out) == 1 and out[0]["amplitude"] == 3.0

    # empty array -> zero windows (reference range(0, 0, n) semantics)
    seqs = spark.createDataFrame(
        [(1, [1, 2, 3]), (2, [])], "vec_id long, tokens array<int>")
    w = non_overlapping_windows(seqs, seq_size=2)
    got = {r.vec_id: r for r in w.collect()}
    assert sum(1 for r in w.collect() if r.vec_id == 2) == 0
    assert sum(1 for r in w.collect() if r.vec_id == 1) == 2

    with pytest.raises(ValueError, match="banded"):
        FeatureExtractor(["amplitude"], bands=["g", "r"]) \
            .extract_binned(obs, window=1.0)

    probes = spark.createDataFrame([("a", 1.0, 9.9)],
                                   "doc_id string, ts double, _t double")
    with pytest.raises(ValueError, match="reserved"):
        asof_join(probes, obs.withColumnRenamed("m", "val"), "doc_id")

    sigs = spark.createDataFrame([(1, 2, 3)], "doc_id long, mh0 long, mh1 long")
    with pytest.raises(ValueError, match="divisible"):
        lsh_candidates(sigs, n_hashes=2, bands=3)

    # staged pii counts: the digit run inside the email is redacted as
    # <EMAIL>, so it must NOT be counted as a phone
    docs = spark.createDataFrame(
        [(1, "mail 1234567890@example.com")], "doc_id long, text string")
    r = pii_scrub(docs).collect()[0]
    assert r.n_email == 1 and r.n_phone == 0 and r.n_ipv4 == 0
    assert "<EMAIL>" in r.text_clean and "<PHONE>" not in r.text_clean


def test_repetition_signals(spark):
    """Gopher-style repetition signals vs a plain-python reference."""
    from collections import Counter

    from light_curve_python_spark.operators.text import repetition_signals
    docs = [
        (1, "a b\na b\nc d"),                # one duplicate line
        (2, "x y x y x y"),                  # heavy 2-gram repetition
        (3, "all distinct words here now"),  # clean
        (4, ""),                             # empty
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r for r in repetition_signals(df).collect()}

    for doc_id, text in docs:
        lines = [ln for ln in text.split("\n") if ln != ""]
        r = got[doc_id]
        if lines:
            assert r.dup_line_frac == pytest.approx(
                1 - len(set(lines)) / len(lines))
            assert r.dup_line_char_frac == pytest.approx(
                1 - sum(map(len, set(lines))) / sum(map(len, lines)))
        else:
            assert r.dup_line_frac == 0.0
        words = text.split()
        grams = [" ".join(words[i:i + 2]) for i in range(len(words) - 1)]
        n_chars = len(text)
        if grams and n_chars:
            cnt = Counter(grams)
            top_c = max(cnt.values())
            top_g = max(g for g, c in cnt.items() if c == top_c)
            assert r.top_ngram_char_frac == pytest.approx(
                top_c * len(top_g) / n_chars)
            dup_chars = sum(c * len(g) for g, c in cnt.items() if c >= 2)
            assert r.dup_ngram_char_frac == pytest.approx(
                dup_chars / n_chars)
        else:
            assert r.top_ngram_char_frac == 0.0
            assert r.dup_ngram_char_frac == 0.0


def test_review_fixes_null_tokens_and_packing(spark):
    """Round-4 final review regressions: NULL token arrays behave as
    empty (no cumsum poisoning, no Arrow crash); pack_tokens keys the
    token join on (partition, id); bins excludes null-weight rows from
    the count; embed rejects reserved column names."""
    import numpy as np
    import pytest
    from pyspark.sql import functions as F

    from light_curve_python_spark.operators.bins import bin_series
    from light_curve_python_spark.operators.embed import embed_sequences
    from light_curve_python_spark.operators.packing import pack_tokens
    from light_curve_python_spark.operators.reductions import (
        reduce_sequence)

    docs = spark.createDataFrame(
        [(1, "A", [1, 2, 3]), (2, "A", None), (3, "A", [4, 5]),
         (3, "B", [6, 7, 8])],
        "doc_id long, source string, tokens array<int>")

    # NULL tokens: reduce emits an all-padding masked row, not a crash
    red = reduce_sequence(docs, seq_size=4).collect()
    r2 = next(r for r in red if r.doc_id == 2 and r.source == "A")
    assert r2.sequence == [0, 0, 0, 0] and r2.mask == [False] * 4

    # packing: null row contributes 0 tokens; doc 3 exists in BOTH
    # sources — each source's blocks contain only its own tokens
    blocks = sorted(pack_tokens(docs, block_tokens=3).collect(),
                    key=lambda b: (b.source, b.block_id))
    by_src = {}
    for b in blocks:
        by_src.setdefault(b.source, []).extend(b.tokens)
    assert by_src["A"] == [1, 2, 3, 4, 5]
    assert by_src["B"] == [6, 7, 8]

    # embed: NULL tokens row encodes (zero-mask) instead of crashing
    emb = embed_sequences(docs, seq_size=4, dim=8).collect()
    assert len(emb) == 4
    assert all(len(r.embedding) == 8 for r in emb)
    with pytest.raises(ValueError, match="reserved"):
        embed_sequences(docs.withColumn("_mask", F.lit(1)))

    # bins: a null-sigma row is excluded from the count AND the sums
    obs = spark.createDataFrame(
        [("a", 0.1, 1.0, 0.1), ("a", 0.2, 2.0, None),
         ("a", 0.3, 3.0, 0.1)],
        "doc_id string, t double, m double, sigma double")
    row = bin_series(obs, "doc_id", window=1.0).collect()[0]
    w = 0.1 ** -2
    assert row.m == pytest.approx((1.0 * w + 3.0 * w) / (2 * w))
    assert row.sigma == pytest.approx(np.sqrt(2 / (2 * w)))


def test_tune_ann_finds_cheap_point_on_clustered_corpus(spark):
    """On a corpus with tight neighbor structure (twin pairs, cosine~1) the
    tuner must pick a cheap approximate point (est cost << 1) that meets
    the target — and the sample-based recall estimate must hold up on the
    FULL probe set (the contract the 100-TB caller relies on)."""
    from light_curve_python_spark.operators.similarity import (ann_recall,
                                                               cosine_topk,
                                                               lsh_topk,
                                                               tune_ann)
    rng = np.random.default_rng(5)
    base = rng.normal(size=(150, 16))
    vecs = np.vstack([base, base + 0.01 * rng.normal(size=(150, 16))])
    pdf = pd.DataFrame({"vec_id": range(300), "embedding": list(vecs)})
    df = spark.createDataFrame(pdf).cache()
    probes = df.filter(F.col("vec_id") < 40)
    out = tune_ann(df, probes, k=1, target_recall=0.9, n_sample_probes=20,
                   dim=16, ivf_cells=4)
    assert out["recall_sample"] >= 0.9
    assert out["method"] in ("lsh", "ivf")
    assert out["est_cost_multiple"] < 1.0
    assert out["ladder"]  # the measured operating curve is reported
    # the tuned point generalizes from the 20-probe sample to all 40
    if out["method"] == "lsh":
        approx = lsh_topk(df, probes, k=1, dim=16, **out["params"])
    else:
        from light_curve_python_spark.operators.similarity import ivf_topk
        approx = ivf_topk(df, probes, k=1, **out["params"])
    full = ann_recall(approx, cosine_topk(df, probes, k=1), k=1)
    assert full >= out["recall_sample"] - 0.15
    df.unpersist()


def test_tune_ann_honest_exact_fallback(spark):
    """Uniform random corpus, impossible target under a tiny cost cap: the
    tuner must NOT return an approximate point below target — it falls
    back to method='exact' and reports the measured ladder."""
    from light_curve_python_spark.operators.similarity import tune_ann
    rng = np.random.default_rng(9)
    vecs = rng.normal(size=(200, 16))
    pdf = pd.DataFrame({"vec_id": range(200), "embedding": list(vecs)})
    df = spark.createDataFrame(pdf)
    probes = df.filter(F.col("vec_id") < 10)
    out = tune_ann(df, probes, k=5, target_recall=0.99, n_sample_probes=8,
                   dim=16, max_cost=0.1, ivf_cells=16)
    assert out["method"] == "exact"
    assert out["recall_sample"] == 1.0
    assert all(p["recall_sample"] < 0.99 for p in out["ladder"])


def test_ann_recall_short_corpus_denominator(spark):
    """A probe whose corpus holds fewer than k neighbors must score 1.0
    when the approximate path returns the identical set — the denominator
    is min(k, per-probe exact count), not k."""
    from light_curve_python_spark.operators.similarity import (ann_recall,
                                                               cosine_topk)
    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(6, 8))
    pdf = pd.DataFrame({"vec_id": range(6), "embedding": list(vecs)})
    df = spark.createDataFrame(pdf)
    probes = df.filter(F.col("vec_id") < 2)
    exact = cosine_topk(df, probes, k=10)  # only 5 neighbors exist
    assert ann_recall(exact, exact, k=10) == pytest.approx(1.0)


def _skewed_docs(spark):
    rows = [(i, "web") for i in range(800)] + \
           [(800 + i, "books") for i in range(150)] + \
           [(950 + i, "code") for i in range(50)]
    return spark.createDataFrame(rows, "doc_id long, source string")


def test_temperature_rates_math(spark):
    from light_curve_python_spark.operators.sampling import (
        temperature_rates)
    df = _skewed_docs(spark)
    # alpha=1: natural proportions — keep everything
    assert temperature_rates(df, alpha=1.0) == \
        {"web": 1.0, "books": 1.0, "code": 1.0}
    # alpha=0: uniform target — smallest stratum pins at 1.0, others at
    # n_min/n_s
    r0 = temperature_rates(df, alpha=0.0)
    assert r0["code"] == pytest.approx(1.0)
    assert r0["books"] == pytest.approx(50 / 150)
    assert r0["web"] == pytest.approx(50 / 800)
    # alpha=0.5: target shares ∝ sqrt(n); the most boosted-relative-to-
    # natural stratum (smallest) is the binding one at rate 1.0
    r5 = temperature_rates(df, alpha=0.5)
    assert r5["code"] == pytest.approx(1.0)
    q = {s: n ** 0.5 for s, n in
         {"web": 800, "books": 150, "code": 50}.items()}
    sw = sum(q.values())
    t = 50 / (q["code"] / sw)
    assert r5["web"] == pytest.approx(t * q["web"] / sw / 800)
    # explicit budget: expected kept total = sum(n_s * rate_s) ~ budget
    rb = temperature_rates(df, alpha=0.5, budget=300)
    expect = sum(n * rb[s] for s, n in
                 {"web": 800, "books": 150, "code": 50}.items())
    assert expect == pytest.approx(300, rel=0.01)


def test_temperature_sample_hits_target_distribution(spark):
    from light_curve_python_spark.operators.sampling import (
        temperature_sample)
    df = _skewed_docs(spark)
    out = temperature_sample(df, alpha=0.0, seed=3).toPandas()
    got = out.groupby("source").size()
    # uniform target: each stratum ~50 docs (hash noise ~ +-2*sqrt(50))
    assert got["code"] == 50            # rate 1.0, exact
    assert abs(got["books"] - 50) < 16
    assert abs(got["web"] - 50) < 16
    # deterministic: rerun identical
    again = temperature_sample(df, alpha=0.0, seed=3).toPandas()
    assert sorted(again.doc_id) == sorted(out.doc_id)


def test_temperature_rates_null_stratum_raises(spark):
    from light_curve_python_spark.operators.sampling import (
        temperature_rates)
    df = spark.createDataFrame([(0, "a"), (1, None)],
                               "doc_id long, source string")
    with pytest.raises(ValueError, match="NULL"):
        temperature_rates(df)


def test_text_review_fixes(spark):
    """Round-5 text/dedup review fixes: empty docs don't crash ANSI
    division, zero-hit docs are 'und' not 'zh', reserved-words guard,
    null-id duplicate groups keep one representative, lsh bands guard."""
    from light_curve_python_spark.operators.dedup import (exact_dedup,
                                                          lsh_candidates)
    from light_curve_python_spark.operators.text import (language_id,
                                                         quality_filter,
                                                         text_quality)
    docs = spark.createDataFrame(
        [(0, ""), (1, "   "), (2, "the cat sat of the mat and hat"),
         (3, "Breaking News Weather Update"), (4, None)],
        "doc_id long, text string")
    tq = text_quality(docs).toPandas().set_index("doc_id")
    assert tq.loc[0].isna().avg_word_len  # NULL ratios, no crash
    assert tq.loc[2, "n_words"] == 8
    qf = quality_filter(docs, min_words=1).toPandas()
    assert len(qf) == 5                    # whole corpus survives the scan
    li = language_id(docs).toPandas().set_index("doc_id")
    assert li.loc[2, "predicted_lang"] == "en"
    assert li.loc[3, "predicted_lang"] == "und"   # was 'zh'
    assert li.loc[4, "predicted_lang"] == "und"   # NULL text
    with pytest.raises(ValueError, match="reserves"):
        quality_filter(docs.withColumn("words", F.lit("x")))
    # null-id duplicate group keeps exactly one representative
    dd = spark.createDataFrame(
        [(None, "x"), (None, "x"), (5, "y")],
        "doc_id long, text string")
    out = exact_dedup(dd, ["text"]).toPandas()
    assert len(out) == 2                   # was 1 (group silently lost)
    assert out[out.text == "x"].dup_count.iloc[0] == 2
    # bands guard raises ValueError, not ZeroDivisionError
    sigs = spark.createDataFrame([(1, 2, 3)], "doc_id long, mh0 long, "
                                              "mh1 long")
    with pytest.raises(ValueError, match="divisible"):
        lsh_candidates(sigs, n_hashes=2, bands=0)


@pytest.mark.parametrize("op", ["cosine_topk", "lsh_topk", "ivf_topk"])
def test_topk_null_ragged_and_zero_embeddings(spark, op):
    """A null (or wrong-length) embedding must not kill the whole job.
    The exact path ranks it last as a NULL cosine; the approximate paths
    cannot project it and return no row for it.  An all-zero vector gets
    a NULL cosine and ranks last on every path — a NaN would sort FIRST
    under desc() and outrank every real neighbor."""
    from light_curve_python_spark.operators.similarity import ivf_topk
    rng = np.random.default_rng(3)
    vecs = [list(map(float, rng.normal(size=8))) for _ in range(6)]
    rows = [(i, v) for i, v in enumerate(vecs)]
    rows.append((6, None))                       # null embedding
    rows.append((7, vecs[0][:5]))                # ragged length
    rows.append((8, [0.0] * 8))                  # all-zero vector
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    probes = df.filter(F.col("vec_id") == 0)
    # approximate parameters that make every projectable row a candidate
    # (ivf trains its quantizer on this corpus, bad rows included)
    if op == "cosine_topk":
        out = cosine_topk(df, probes, k=10)
    elif op == "lsh_topk":
        out = lsh_topk(df, probes, k=10, dim=8, n_planes=1, n_tables=16)
    else:
        out = ivf_topk(df, probes, k=10, n_cells=2, n_probe_cells=2)
    got = out.toPandas()
    # valid neighbors come back with finite cosines and correct order
    finite = got[np.isfinite(got.cosine.astype(float))]
    assert set(finite.neighbor_id) == {1, 2, 3, 4, 5}
    norms = np.array([np.linalg.norm(v) for v in vecs])
    cos = np.array([np.dot(vecs[i], vecs[0]) / (norms[i] * norms[0])
                    for i in range(1, 6)])
    want = np.array([1, 2, 3, 4, 5])[np.argsort(-cos, kind="stable")]
    np.testing.assert_array_equal(
        finite.sort_values("rank").neighbor_id.to_numpy(), want)
    # the bad rows rank last with NULL cosine, never first
    bad = got[got.neighbor_id.isin([6, 7, 8])]
    assert bad.cosine.isna().all()
    if op == "cosine_topk":
        assert set(bad["rank"]) == {6, 7, 8}
    else:
        assert list(bad.neighbor_id) == [8] and list(bad["rank"]) == [6]
