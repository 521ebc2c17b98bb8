"""Training-data pipeline operators vs exact oracles (duckdb / numpy)."""

import itertools

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from hyperloglog_spark.pipeline import (
    brute_force_topk,
    doc_fingerprints,
    exact_dedup,
    lang_id,
    lsh_topk,
    near_dup_pairs,
    ngram_jaccard_pairs,
    quality_score,
    simhash_near_dup_pairs,
    simhash_signatures,
    token_stats,
)
from hyperloglog_spark.pipeline.multimodal import (
    extract_features,
    fake_decode_features,
    sample_frames,
    synthesize_assets,
)

DOCS = "/root/testdata/sf0.01/documents.parquet"
EMB = "/root/testdata/sf0.01/embeddings.parquet"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(DOCS)


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(EMB)


# ------------------------------------------------------------------ dedup


def test_exact_dedup_matches_groupby(docs):
    got = {
        (r["doc_id"], r["n_copies"])
        for r in exact_dedup(docs, "text", "doc_id").collect()
    }
    want = {
        tuple(r) for r in duckdb.sql(
            f"SELECT min(doc_id), count(*) FROM '{DOCS}' GROUP BY text"
        ).fetchall()
    }
    assert got == want


def _shingle_sets(n=3):
    rows = duckdb.sql(f"SELECT doc_id, text FROM '{DOCS}'").fetchall()
    out = {}
    for i, t in rows:
        w = t.split(" ")
        if len(w) < n:
            out[i] = {t}
        else:
            out[i] = {" ".join(w[j:j + n]) for j in range(len(w) - n + 1)}
    return out

def _exact_pairs(threshold_permille=500):
    sh = _shingle_sets()
    want = {}
    for a, b in itertools.combinations(sorted(sh), 2):
        inter = len(sh[a] & sh[b])
        if not inter:
            continue
        union = len(sh[a] | sh[b])
        pm = int(np.floor(inter * 1000.0 / union))
        if pm >= threshold_permille:
            want[(a, b)] = pm
    return want


def test_minhash_lsh_neardup_exhaustive_parity(docs):
    """LSH-found, exactly-verified pairs == exhaustive all-pairs Jaccard."""
    got = {
        (r["id_a"], r["id_b"]): r["jaccard_permille"]
        for r in near_dup_pairs(
            docs, "text", "doc_id", threshold_permille=500
        ).collect()
    }
    assert got == _exact_pairs(500)
    assert len(got) > 0  # non-vacuous: sf0.01 plants 25 near-dup pairs


def test_ngram_jaccard_prefix_filter_exhaustive_parity(docs):
    """Prefix-filter inverted index == exhaustive all-pairs Jaccard at two
    thresholds (recall 1.0 is the operator's contract, not probabilistic)."""
    for t in (500, 700):
        got = {
            (r["id_a"], r["id_b"]): r["jaccard_permille"]
            for r in ngram_jaccard_pairs(
                docs, "text", "doc_id", threshold_permille=t
            ).collect()
        }
        assert got == _exact_pairs(t)
    assert len(_exact_pairs(500)) > 0


def test_ngram_jaccard_randomized_corpora_parity(spark):
    """Randomized small corpora with edge cases (empty-ish docs, single
    token, exact duplicates, near-duplicates, threshold 1000): the
    prefix-filter output must equal brute-force exact Jaccard on hashed
    shingle sets for every threshold tried."""
    import numpy as np

    rng = np.random.default_rng(97)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    for i in range(60):
        n = int(rng.integers(1, 30))
        toks = list(rng.choice(vocab, size=n))
        rows.append((i, " ".join(toks)))
        if rng.random() < 0.3:           # exact duplicate
            rows.append((1000 + i, " ".join(toks)))
        if rng.random() < 0.3 and n > 4:  # near-duplicate (one token off)
            toks2 = list(toks)
            toks2[int(rng.integers(0, n))] = "zz"
            rows.append((2000 + i, " ".join(toks2)))
    df = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(5)

    def shingles(text, n=3):
        w = text.split(" ")
        if len(w) < n:
            return {text}
        return {" ".join(w[j:j + n]) for j in range(len(w) - n + 1)}

    sets = {i: shingles(t) for i, t in rows}
    for t in (400, 800, 1000):
        want = {}
        ids = sorted(sets)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = ids[x], ids[y]
                inter = len(sets[a] & sets[b])
                if not inter:
                    continue
                pm = int(np.floor(inter * 1000.0 /
                                  len(sets[a] | sets[b])))
                if pm >= t:
                    want[(a, b)] = pm
        got = {
            (r["id_a"], r["id_b"]): r["jaccard_permille"]
            for r in ngram_jaccard_pairs(
                df, "text", "doc_id", threshold_permille=t
            ).collect()
        }
        assert got == want, f"threshold {t}"
    assert want  # t=1000: exact duplicates exist, so non-vacuous


def test_ngram_jaccard_observes_dropped_postings(docs):
    from pyspark.sql import Observation

    obs = Observation("drops")
    # max_posting=2 keeps 2-member posting lists (so the result is
    # non-empty — a fully-empty result lets AQE's empty-relation
    # propagation prune the CollectMetrics node and the metrics vanish)
    # while dropping every larger list, which must be reported loudly.
    rows = ngram_jaccard_pairs(
        docs, "text", "doc_id", threshold_permille=500,
        max_posting=2, observation=obs,
    ).collect()
    assert len(rows) > 0
    got = obs.get
    assert got["n_buckets_dropped"] > 0
    assert got["n_ids_in_dropped"] > 2 * got["n_buckets_dropped"]


def test_observed_drops_of_an_empty_result_raise_on_get(spark):
    # The caveat in dedup._observe_dropped: when every bucket is over the
    # cap the final result is empty, AQE's empty-relation propagation
    # prunes the CollectMetrics node, and Observation.get raises instead
    # of reporting the drops.
    from py4j.protocol import Py4JJavaError
    from pyspark.sql import Observation

    from hyperloglog_spark.pipeline.dedup import minhash_lsh_candidates

    sigs = spark.createDataFrame([(i, [1, 2, 3, 4]) for i in range(20)],
                                 "doc_id long, sig array<bigint>")
    obs = Observation("drops")
    out = minhash_lsh_candidates(sigs, "doc_id", bands=2, rows_per_band=2,
                                 max_bucket=5, observation=obs)
    assert out.collect() == []
    with pytest.raises(Py4JJavaError):
        obs.get


def test_neardup_partitioning_invariance(docs):
    a = near_dup_pairs(docs, "text", "doc_id").collect()
    b = near_dup_pairs(docs.repartition(7), "text", "doc_id").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_simhash_pairs_match_bruteforce_hamming(docs):
    sigs = {
        r["doc_id"]: r["simhash"]
        for r in simhash_signatures(docs, "text", "doc_id").collect()
    }
    want = set()
    ids = sorted(sigs)
    arr = np.array([sigs[i] for i in ids], dtype=np.int64).view(np.uint64)
    for i, a in enumerate(ids):
        ham = np.bitwise_xor(arr[i], arr[i + 1:])
        cnt = np.array([bin(int(x)).count("1") for x in ham])
        for j in np.flatnonzero(cnt <= 3):
            want.add((a, ids[i + 1 + j], int(cnt[j])))
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_near_dup_pairs(
            docs, "text", "doc_id", max_hamming=3
        ).collect()
    }
    assert got == want


# ------------------------------------------------------------- similarity


def test_brute_force_topk_matches_numpy(emb):
    rows = duckdb.sql(f"SELECT vec_id, embedding FROM '{EMB}'").fetchall()
    ids = np.array([r[0] for r in rows])
    V = np.array([r[1] for r in rows], dtype=np.float64)
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    S = V @ V.T
    q_mask = ids < 20
    got = brute_force_topk(
        emb, emb.filter(F.col("vec_id") < 20), "vec_id", "embedding", k=5
    ).collect()
    assert len(got) == int(q_mask.sum()) * 5
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["neighbor_id"], r["score_permille"])
        )
    for qi in np.flatnonzero(q_mask):
        qid = int(ids[qi])
        scores = S[qi].copy()
        scores[qi] = -np.inf  # exclude self
        pm = np.floor(scores * 1000.0)
        order = sorted(
            range(len(ids)), key=lambda j: (-pm[j], ids[j])
        )[:5]
        want = [(rk + 1, int(ids[j]), int(pm[j]))
                for rk, j in enumerate(order)]
        assert sorted(by_q[qid]) == want, qid


def test_lsh_topk_recall_on_clustered_vectors(spark):
    """Planted clusters -> LSH multiprobe recall@1 is high."""
    rng = np.random.default_rng(5)
    centers = rng.standard_normal((20, 32)) * 3
    vecs, ids = [], []
    for i in range(400):
        c = centers[i % 20]
        vecs.append(c + rng.standard_normal(32) * 0.1)
        ids.append(i)
    pdf = [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)]
    df = spark.createDataFrame(pdf, ["vec_id", "embedding"])
    q = df.filter(F.col("vec_id") < 20)
    bf = {(r["query_id"], r["rank"]): r["neighbor_id"]
          for r in brute_force_topk(df, q, "vec_id", "embedding", k=1).collect()}
    ls = {(r["query_id"], r["rank"]): r["neighbor_id"]
          for r in lsh_topk(df, q, "vec_id", "embedding", k=1,
                            nbits=10).collect()}
    hits = sum(bf[k] == ls.get(k) for k in bf)
    assert hits / len(bf) >= 0.9


# ------------------------------------------------------------------- text


def test_token_stats_vs_duckdb(docs):
    got = {r["doc_id"]: (r["n_chars"], r["n_tokens"], r["n_types"],
                         r["ttr_permille"], r["n_subtokens"])
           for r in token_stats(docs, "text", "doc_id").collect()}
    want = {r[0]: tuple(r[1:]) for r in duckdb.sql(rf"""
        SELECT doc_id, length(text),
               len(string_split(text, ' ')),
               len(list_distinct(string_split(text, ' '))),
               CAST(floor(len(list_distinct(string_split(text, ' '))) * 1000.0
                    / len(string_split(text, ' '))) AS BIGINT),
               CAST(len(regexp_extract_all(text,
                    '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+')) AS BIGINT)
        FROM '{DOCS}'""").fetchall()}
    assert got == want


def test_subtoken_count_hand_cases(spark):
    df = spark.createDataFrame(
        [(1, "Hello, world! 42x don't"), (2, "a  b"), (3, "...")],
        ["doc_id", "text"])
    got = {r["doc_id"]: r["n_subtokens"]
           for r in token_stats(df, "text", "doc_id").collect()}
    # Hello , world ! 42 x don ' t -> 9 ; a b -> 2 ; ... -> 1
    assert got == {1: 9, 2: 2, 3: 1}


def test_quality_score_bounds_and_determinism(docs):
    rows = quality_score(docs, "text", "doc_id").collect()
    assert len(rows) == 500
    assert all(0 <= r["score"] <= 1000 for r in rows)
    again = quality_score(docs.repartition(9), "text", "doc_id").collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_lang_id_rules(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "这是 中文 文本"),
         (3, "straße äpfel über"), (4, "mañana ¿qué?"),
         (5, "être à côté"), (6, "xyzzy plugh")],
        ["id", "text"],
    )
    got = {r["id"]: r["lang_pred"] for r in lang_id(df, "text").collect()}
    assert got == {1: "en", 2: "zh", 3: "de", 4: "es", 5: "fr", 6: "unknown"}


def test_fingerprints_block_near_dups(docs):
    fps = {r["doc_id"]: r["fingerprint"]
           for r in doc_fingerprints(docs, "text", "doc_id").collect()}
    assert len(fps) == 500
    # the planted highest-Jaccard pair shares a fingerprint prefix often
    # enough to be a useful blocking key; at minimum it is deterministic
    again = {r["doc_id"]: r["fingerprint"]
             for r in doc_fingerprints(docs.repartition(5), "text",
                                       "doc_id").collect()}
    assert fps == again


# ------------------------------------------------------------- multimodal


def test_fake_decoder_matches_features(docs):
    assets = synthesize_assets(docs, "text", "doc_id")
    feats = extract_features(assets).collect()
    assert len(feats) == 500
    texts = {r[0]: r[1] for r in duckdb.sql(
        f"SELECT doc_id, text FROM '{DOCS}'").fetchall()}
    import pandas as pd

    for r in feats[:25]:
        payload = texts[r["asset_id"]].encode("utf-8")
        want = fake_decode_features(pd.Series([payload]))[0]
        assert r["n_bytes"] == len(payload)
        np.testing.assert_allclose(np.array(r["features"]), want, rtol=1e-12)


def test_decode_image_is_marked_stub():
    from hyperloglog_spark.pipeline.multimodal import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")


def test_sample_frames(docs):
    assets = synthesize_assets(docs, "text", "doc_id")
    n_video = assets.filter(F.col("kind") == "video").count()
    frames = sample_frames(assets, every_nth=4)
    assert frames.count() == n_video * 4          # 16 frames, every 4th
    assert frames.select(F.min("frame_idx")).first()[0] == 0
    assert frames.select(F.max("frame_idx")).first()[0] == 12


def test_minhash_multiply_shift_family():
    """The minhash permutation hash is the documented Dietzfelbinger
    multiply-shift family ((a*u+b) mod 2^64) >> 3 with odd a — verified
    against Python big-int arithmetic, plus the family invariants the
    universality proof needs (ADVICE round 1: code and claim must agree)."""
    from hyperloglog_spark.pipeline.dedup import _mul_shift, _perm_params

    rng = np.random.default_rng(99)
    u = np.concatenate([
        rng.integers(0, 1 << 64, size=2_000, dtype=np.uint64),
        np.array([0, 1, 2, (1 << 64) - 1, 1 << 63, (1 << 61) - 1],
                 dtype=np.uint64),
    ])
    a_arr, b_arr = _perm_params(64, seed=1234)
    assert (a_arr % np.uint64(2) == 1).all()      # odd multipliers
    for j in [0, 7, 63]:
        got = _mul_shift(u, a_arr[j], b_arr[j])
        want = ((u.astype(object) * int(a_arr[j]) + int(b_arr[j]))
                % (1 << 64)) >> 3
        assert (got.astype(object) == want).all()
        assert int(got.max()) < 1 << 61           # fits int64 signatures


def test_lsh_topk_plan_is_fully_lazy(spark, monkeypatch):
    """VERDICT round 1 #2: building the lsh_topk plan must not pull the
    query set to the driver — no DataFrame.collect during construction."""
    from pyspark.sql import DataFrame

    rng = np.random.default_rng(3)
    pdf = [(int(i), [float(x) for x in rng.standard_normal(16)])
           for i in range(50)]
    df = spark.createDataFrame(pdf, ["vec_id", "embedding"])
    q = df.filter(F.col("vec_id") < 5)

    def boom(self, *a, **kw):
        raise AssertionError("collect() during lsh_topk plan construction")

    from hyperloglog_spark.pipeline import similarity as sim

    monkeypatch.setattr(DataFrame, "collect", boom)
    plan = sim.lsh_topk(df, q, "vec_id", "embedding", k=3, dim=16)
    monkeypatch.undo()
    assert len(plan.collect()) > 0


def test_blocked_topk_matches_brute_force(spark):
    """The large-query-set cogroup path is exact: identical output to the
    broadcast matmul path, including permille tie-breaks."""
    from hyperloglog_spark.pipeline import blocked_topk, brute_force_topk

    rng = np.random.default_rng(11)
    centers = rng.standard_normal((10, 24)) * 2
    pdf = [(int(i), [float(x) for x in centers[i % 10]
                     + rng.standard_normal(24) * 0.2]) for i in range(300)]
    df = spark.createDataFrame(pdf, ["vec_id", "embedding"]).repartition(7)
    q = df.filter(F.col("vec_id") < 40)     # a large-ish query set
    bf = sorted(map(tuple, brute_force_topk(
        df, q, "vec_id", "embedding", k=4).collect()))
    bl = sorted(map(tuple, blocked_topk(
        df, q, "vec_id", "embedding", k=4, n_blocks=5).collect()))
    assert bf == bl


def test_coalesce_for_payloads_uses_metadata_not_a_scan(spark, tmp_path,
                                                        monkeypatch):
    """VERDICT round 1 #6: sizing partitions for a file-backed table must
    come from the file listing, never a sum(length(payload)) pass."""
    from pyspark.sql import DataFrame

    from hyperloglog_spark.pipeline.multimodal import (
        coalesce_for_payloads, synthesize_assets,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    assets = synthesize_assets(docs, "text", "doc_id")
    path = str(tmp_path / "assets")
    assets.write.parquet(path)
    stored = spark.read.parquet(path)

    def boom(self, *a, **kw):
        raise AssertionError("payload sizing ran a full aggregate scan")

    monkeypatch.setattr(DataFrame, "agg", boom)
    out = coalesce_for_payloads(stored, target_mb=1)
    monkeypatch.undo()
    assert out.rdd.getNumPartitions() >= 1
    assert out.count() == docs.count()

    # explicit total_bytes wins outright (catalog-stats path)
    monkeypatch.setattr(DataFrame, "agg", boom)
    out2 = coalesce_for_payloads(stored, total_bytes=300 * 1024 * 1024,
                                 target_mb=64)
    monkeypatch.undo()
    assert out2.rdd.getNumPartitions() == 4

    # in-memory frames (no input files) still fall back to the scan
    mem = spark.createDataFrame(
        [(1, bytearray(b"x" * 100))], ["asset_id", "payload"])
    assert coalesce_for_payloads(mem).rdd.getNumPartitions() == 1


def test_near_dup_clusters_components(spark):
    """Min-label propagation finds connected components: chains collapse
    to the smallest member, keep marks exactly one representative each."""
    from hyperloglog_spark.pipeline import near_dup_clusters

    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (5, 6), (6, 7), (10, 11)], ["id_a", "id_b"])
    got = {r["id"]: (r["cluster_id"], r["keep"])
           for r in near_dup_clusters(pairs).collect()}
    assert got == {
        1: (1, True), 2: (1, False), 3: (1, False),
        5: (5, True), 6: (5, False), 7: (5, False),
        10: (10, True), 11: (10, False),
    }


def test_embedding_neardup_pairs_matches_bruteforce_semantic(spark):
    """Blocked pairs == exhaustive numpy evaluation of the exact semantic
    (signature Hamming <= h AND cosine >= t)."""
    from hyperloglog_spark.pipeline import embedding_neardup_pairs
    from hyperloglog_spark.pipeline.similarity import _normalize, _signatures

    rng = np.random.default_rng(21)
    base = rng.standard_normal((80, 32))
    vecs = list(base) + [v + rng.standard_normal(32) * 0.05 for v in base[:20]]
    pdf = [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(pdf, ["vec_id", "embedding"]).repartition(5)

    got = sorted(map(tuple, embedding_neardup_pairs(
        df, "vec_id", "embedding", threshold_permille=900, nbits=16,
        max_hamming=3, seed=177, dim=32).collect()))

    m = _normalize(np.array(vecs, dtype=np.float64))
    planes = np.random.default_rng(177).standard_normal((32, 16))
    sig = _signatures(m, planes)
    want = []
    for i in range(len(vecs)):
        for j in range(i + 1, len(vecs)):
            ham = bin(int(sig[i]) ^ int(sig[j])).count("1")
            pm = int(np.floor(1000.0 * float(m[i] @ m[j])))
            if ham <= 3 and pm >= 900:
                want.append((i, j, pm))
    assert got == sorted(want)
    assert len(got) >= 10        # non-vacuous: planted near-dups found


def test_ivf_topk_recall_and_fitted_quantizer(spark):
    """IVF with the random quantizer finds most true top-1 neighbors on
    clustered data; the fitted (spherical k-means) quantizer does at least
    as well; both are deterministic across runs."""
    from hyperloglog_spark.pipeline import fit_ivf_centroids, ivf_topk

    rng = np.random.default_rng(17)
    centers = rng.standard_normal((12, 24)) * 3
    pdf = [(int(i), [float(x) for x in centers[i % 12]
                     + rng.standard_normal(24) * 0.1]) for i in range(360)]
    df = spark.createDataFrame(pdf, ["vec_id", "embedding"]).repartition(6)
    q = df.filter(F.col("vec_id") < 24)
    bf = {(r["query_id"], r["rank"]): r["neighbor_id"]
          for r in brute_force_topk(df, q, "vec_id", "embedding",
                                    k=1).collect()}

    ivf_r = ivf_topk(df, q, "vec_id", "embedding", k=1, n_cells=8,
                     nprobe=3).collect()
    rnd = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in ivf_r}
    rnd_recall = sum(bf[kk] == rnd.get(kk) for kk in bf) / len(bf)

    cents = fit_ivf_centroids(df, "vec_id", "embedding", n_cells=8)
    fit = {(r["query_id"], r["rank"]): r["neighbor_id"]
           for r in ivf_topk(df, q, "vec_id", "embedding", k=1,
                             centroids=cents, nprobe=3).collect()}
    fit_recall = sum(bf[kk] == fit.get(kk) for kk in bf) / len(bf)

    assert rnd_recall >= 0.5, rnd_recall
    assert fit_recall >= rnd_recall - 0.05   # fitted at least comparable
    assert fit_recall >= 0.9, fit_recall     # k-means nails planted clusters

    again = {(r["query_id"], r["rank"]): r["neighbor_id"]
             for r in ivf_topk(df.repartition(11), q, "vec_id", "embedding",
                               k=1, n_cells=8, nprobe=3).collect()}
    assert rnd == again                      # partitioning-invariant


def test_deterministic_sample_invariance_and_merge_law(docs):
    """Bottom-k-by-hash: partitioning-invariant, and the sample of a union
    equals re-taking k from the per-shard samples (the min-k merge law)."""
    from hyperloglog_spark.pipeline import deterministic_sample

    a = deterministic_sample(docs, "doc_id", 50).collect()
    b = deterministic_sample(docs.repartition(13), "doc_id", 50).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) == 50

    # merge law: shard the corpus, sample each shard, re-take k from the
    # union of shard samples -> identical to sampling the whole corpus
    s1 = deterministic_sample(docs.filter("doc_id % 2 = 0"), "doc_id", 50)
    s2 = deterministic_sample(docs.filter("doc_id % 2 = 1"), "doc_id", 50)
    merged = (s1.unionByName(s2)
              .orderBy("sample_key", "doc_id").limit(50).collect())
    assert sorted(map(tuple, merged)) == sorted(map(tuple, a))

    # a different salt draws a (near-)disjoint sample
    c = deterministic_sample(docs, "doc_id", 50, salt=1).collect()
    ids_a = {r["doc_id"] for r in a}
    ids_c = {r["doc_id"] for r in c}
    assert len(ids_a & ids_c) < 20


def test_stratified_sample_per_group_counts(docs):
    from hyperloglog_spark.pipeline import stratified_sample

    out = stratified_sample(docs, "doc_id", "lang", 10).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r["doc_id"])
    n_langs = docs.select("lang").distinct().count()
    assert len(by_lang) == n_langs
    assert all(len(v) <= 10 for v in by_lang.values())
    again = stratified_sample(docs.repartition(9), "doc_id", "lang",
                              10).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


# -------------------------------------------------- round-3 scale guards


def _df_cls():
    """The CONCRETE DataFrame class (pyspark>=4 routes instances through
    pyspark.sql.classic; patching the abstract base is a no-op)."""
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:                        # pragma: no cover
        from pyspark.sql import DataFrame
    return DataFrame


def _recording_collect(monkeypatch, sizes):
    """Patch DataFrame.collect to record result sizes (driver traffic)."""
    DataFrame = _df_cls()
    real = DataFrame.collect

    def spy(self, *a, **kw):
        rows = real(self, *a, **kw)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(DataFrame, "collect", spy)


def test_fit_ivf_centroids_absolute_sample_cap(spark, monkeypatch):
    """VERDICT r2 #1: the driver-side training sample is capped ABSOLUTELY
    (bottom-k-by-hash limit), not a corpus fraction — every collect during
    the fit is <= max_sample rows regardless of corpus size."""
    from hyperloglog_spark.pipeline import fit_ivf_centroids

    rng = np.random.default_rng(9)
    pdf = [(int(i), [float(x) for x in rng.standard_normal(16)])
           for i in range(2000)]
    df = spark.createDataFrame(pdf, ["vec_id", "embedding"]).repartition(8)

    sizes = []
    _recording_collect(monkeypatch, sizes)
    cents = fit_ivf_centroids(df, "vec_id", "embedding", n_cells=4,
                              max_sample=64)
    monkeypatch.undo()
    assert cents.shape == (4, 16)
    assert sizes and max(sizes) <= 64          # never a fraction of 2000

    # determinism: partitioning-invariant (bottom-k-by-hash sample)
    again = fit_ivf_centroids(df.repartition(3), "vec_id", "embedding",
                              n_cells=4, max_sample=64)
    assert np.array_equal(cents, again)


def test_fit_ivf_centroids_distributed_collects_o_ncells(spark, monkeypatch):
    """VERDICT r2 #1 'done' criterion: the distributed fit's per-iteration
    driver collect is O(n_cells * dim) — IDENTICAL row counts at two very
    different corpus sizes."""
    from hyperloglog_spark.pipeline.similarity import (
        fit_ivf_centroids_distributed,
    )

    rng = np.random.default_rng(13)
    centers = rng.standard_normal((6, 12)) * 3

    def corpus(n, parts):
        pdf = [(int(i), [float(x) for x in centers[i % 6]
                         + rng.standard_normal(12) * 0.1]) for i in range(n)]
        return spark.createDataFrame(
            pdf, ["vec_id", "embedding"]).repartition(parts)

    per_size = []
    for n, parts in ((150, 3), (1200, 11)):
        sizes = []
        _recording_collect(monkeypatch, sizes)
        cents = fit_ivf_centroids_distributed(
            corpus(n, parts), "vec_id", "embedding", n_cells=6, iters=3)
        monkeypatch.undo()
        assert cents.shape == (6, 12)
        # init collect: n_cells rows; each iteration: n_cells*(dim+1) rows
        assert max(sizes) <= 6 * 13
        per_size.append(max(sizes))
    assert per_size[0] == per_size[1]          # independent of corpus size


def test_fit_ivf_centroids_distributed_grid_mode_deterministic(spark):
    """grid_bits quantizes the centroid update to an integer grid: exact,
    order-independent sums, so the fit is invariant to partitioning — the
    property the SQL oracle for the trained-IVF query relies on."""
    from hyperloglog_spark.pipeline.similarity import (
        fit_ivf_centroids_distributed,
    )

    rng = np.random.default_rng(29)
    pdf = [(int(i), [float(x) for x in rng.standard_normal(8)])
           for i in range(300)]
    df = spark.createDataFrame(pdf, ["vec_id", "embedding"])
    a = fit_ivf_centroids_distributed(df.repartition(2), "vec_id",
                                      "embedding", n_cells=5, iters=2,
                                      grid_bits=20, hashing="md5")
    b = fit_ivf_centroids_distributed(df.repartition(13), "vec_id",
                                      "embedding", n_cells=5, iters=2,
                                      grid_bits=20, hashing="md5")
    assert np.array_equal(a, b)                # bit-identical, not approx


def test_brute_force_budget_enforced(spark, monkeypatch):
    """VERDICT r2 #3: an over-budget query set NEVER reaches the driver —
    the call auto-routes to blocked_topk (identical output); a false
    'broadcast-sized' declaration raises instead of collecting silently."""
    from hyperloglog_spark.pipeline import similarity as sim

    rng = np.random.default_rng(31)
    pdf = [(int(i), [float(x) for x in rng.standard_normal(12)])
           for i in range(200)]
    df = spark.createDataFrame(pdf, ["vec_id", "embedding"]).repartition(4)
    q = df.filter(F.col("vec_id") < 40)

    # over-budget + declared: plan builds with collect() forbidden
    def boom(self, *a, **kw):
        raise AssertionError("driver collect on an over-budget query set")

    monkeypatch.setattr(_df_cls(), "collect", boom)
    plan = sim.brute_force_topk(df, q, "vec_id", "embedding", k=3,
                                expected_queries=40,
                                max_broadcast_queries=10)
    monkeypatch.undo()
    routed = sorted(map(tuple, plan.collect()))

    # ...and the routed result is the exact blocked_topk answer
    want = sorted(map(tuple, sim.blocked_topk(
        df, q, "vec_id", "embedding", k=3).collect()))
    assert routed == want

    # undeclared: the materializing collect IS the probe — limit(max+1)
    # bounds driver transfer (the scale contract) with zero extra jobs,
    # and the over-budget result routes to the identical blocked path
    real_collect = _df_cls().collect
    collected_sizes = []

    def spy(self, *a, **kw):
        rows = real_collect(self, *a, **kw)
        collected_sizes.append(len(rows))
        return rows

    monkeypatch.setattr(_df_cls(), "collect", spy)
    plan2 = sim.brute_force_topk(df, q, "vec_id", "embedding", k=3,
                                 max_broadcast_queries=10)
    monkeypatch.undo()
    assert collected_sizes and max(collected_sizes) <= 11
    assert sorted(map(tuple, plan2.collect())) == want

    # a lying declaration fails loudly at collect time
    with pytest.raises(ValueError, match="broadcast"):
        sim.brute_force_topk(df, q, "vec_id", "embedding", k=3,
                             expected_queries=5, max_broadcast_queries=10)


def test_near_dup_clusters_adversarial_chain(spark):
    """VERDICT r2 #4: a chain graph with diameter >> round budget — the
    large-star/small-star rewrite converges in O(log^2 n) rounds where
    min-label propagation needed O(diameter)."""
    from hyperloglog_spark.pipeline import near_dup_clusters

    n = 240                                   # diameter 239 >> 30 rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], ["id_a", "id_b"])
    import warnings as w

    with w.catch_warnings():
        w.simplefilter("error")               # unconverged would raise
        got = {r["id"]: (r["cluster_id"], r["keep"])
               for r in near_dup_clusters(pairs).collect()}
    assert len(got) == n
    assert all(lbl == 1 for lbl, _ in got.values())
    assert [i for i, (_, keep) in got.items() if keep] == [1]


def test_near_dup_clusters_random_graph_vs_union_find(spark):
    """Star-contraction components == a driver-side union-find oracle on a
    random graph with many components of varied shapes."""
    from hyperloglog_spark.pipeline import near_dup_clusters

    rng = np.random.default_rng(47)
    edges = set()
    for _ in range(300):
        a, b = rng.integers(0, 500, size=2)
        if a != b:
            edges.add((int(min(a, b)), int(max(a, b))))
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    want = {x: min(y for y in parent if find(y) == find(x)) for x in parent}

    pairs = spark.createDataFrame(sorted(edges), ["id_a", "id_b"])
    got = {r["id"]: r["cluster_id"]
           for r in near_dup_clusters(pairs).collect()}
    assert got == want


def test_stratified_sample_two_phase_exact_and_skew_safe(spark, docs):
    """VERDICT r2 #6: the two-phase stratified sample is byte-identical to
    the single-window definition, and the narrow pre-reduction bounds what
    the hottest group ships into the window shuffle."""
    from pyspark.sql import Window

    from hyperloglog_spark.pipeline import stratified_sample
    from hyperloglog_spark.pipeline.sampling import (
        _local_group_bottomk, _sample_key,
    )

    # exactness vs the one-phase window on real data, any partitioning
    got = sorted(map(tuple, stratified_sample(
        docs.select("doc_id", "lang").repartition(7), "doc_id", "lang", 20,
        hashing="md5").collect()))
    keyed = docs.select("doc_id", "lang").withColumn(
        "sample_key", _sample_key("doc_id", "md5", 0))
    w = Window.partitionBy("lang").orderBy("sample_key", "doc_id")
    want = sorted(map(tuple, keyed.withColumn(
        "rn", F.row_number().over(w)).filter(F.col("rn") <= 20)
        .drop("rn").collect()))
    assert got == want

    # skew: ONE group, many partitions -> phase-1 output is ~k per
    # partition-batch, never the group's full row count
    hot = spark.range(0, 20000).select(
        F.col("id").alias("doc_id"), F.lit("hot").alias("lang"))
    hot_keyed = hot.repartition(10).withColumn(
        "sample_key", _sample_key("doc_id", "xxhash64", 0))
    reduced = _local_group_bottomk(hot_keyed, ["lang"], "doc_id", 5)
    n_reduced = reduced.count()
    assert n_reduced <= 10 * 3 * 5             # partitions x batches x k
    out = stratified_sample(hot.repartition(10), "doc_id", "lang", 5)
    assert out.count() == 5


def test_hamming_blocked_pairs_observes_dropped_buckets(spark):
    """ADVICE r2: bucket drops are observable — identical signatures
    overflow a tiny max_bucket and the Observation reports it."""
    from pyspark.sql import Observation

    from hyperloglog_spark.pipeline.dedup import hamming_blocked_pairs

    rows = [(i, 7) for i in range(50)] + [(100, 9), (101, 9)]
    sigs = spark.createDataFrame(rows, ["doc_id", "sig"])
    obs = Observation("drops")
    out = hamming_blocked_pairs(sigs, "doc_id", "sig", max_hamming=3,
                                max_bucket=10, observation=obs)
    pairs = out.collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(100, 101)}
    got = obs.get
    # chunk 0: the 50-id sig-7 bucket; chunks 1-3: all 52 ids share key 0
    assert got["n_buckets_dropped"] == 4
    assert got["n_ids_in_dropped"] == 206   # 50 + 3 chunks x 52 all-zero-key


def test_infer_dim_empty_queries_raises(spark):
    """ADVICE r2: empty query set -> clear ValueError, not TypeError."""
    from hyperloglog_spark.pipeline import ivf_topk, lsh_topk

    rng = np.random.default_rng(3)
    pdf = [(int(i), [float(x) for x in rng.standard_normal(8)])
           for i in range(20)]
    df = spark.createDataFrame(pdf, ["vec_id", "embedding"])
    empty = df.filter(F.col("vec_id") < 0)
    with pytest.raises(ValueError, match="empty"):
        lsh_topk(df, empty, "vec_id", "embedding")
    with pytest.raises(ValueError, match="empty"):
        ivf_topk(df, empty, "vec_id", "embedding")


def test_decode_image_seam_without_pil():
    """Import-guarded decoder: raises the documented NotImplementedError
    where PIL is absent; decodes for real where it exists."""
    from hyperloglog_spark.pipeline.multimodal import (
        _try_pil, decode_image,
    )

    if _try_pil() is None:
        with pytest.raises(NotImplementedError, match="PIL"):
            decode_image(b"\x89PNG")
    else:                                     # real cluster with a codec
        import io

        from PIL import Image

        buf = io.BytesIO()
        Image.new("L", (4, 3), color=7).save(buf, format="PNG")
        arr = decode_image(buf.getvalue())
        assert arr.shape == (3, 4) and int(arr[0, 0]) == 7


def test_priority_sample_estimator_and_invariance(docs):
    """Priority sampling (DLT 2007): heavy rows always kept, estimates
    unbiased for the total (checked across salts within CLT tolerance),
    selection partitioning-invariant, and n <= k degenerates to the exact
    data (weight_est == weight)."""
    from hyperloglog_spark.pipeline import priority_sample

    total = docs.agg(F.sum("n_chars")).first()[0]

    a = priority_sample(docs, "doc_id", "n_chars", 100).collect()
    b = priority_sample(
        docs.repartition(13), "doc_id", "n_chars", 100
    ).collect()
    assert sorted(r["doc_id"] for r in a) == sorted(r["doc_id"] for r in b)
    assert len(a) == 100

    # every kept row satisfies weight_est >= weight, and the heaviest row
    # of the corpus is always in the sample once tau <= its weight
    assert all(r["weight_est"] >= r["n_chars"] for r in a)

    # unbiasedness: mean estimate over independent draws ~ true total.
    # 8 draws of k=100 from 500 docs: CLT bound ~3 sigma with sigma
    # dominated by the per-draw variance of sum(tau terms).
    ests = []
    for salt in range(8):
        rows = priority_sample(
            docs, "doc_id", "n_chars", 100, salt=salt
        ).collect()
        ests.append(sum(r["weight_est"] for r in rows))
    mean = sum(ests) / len(ests)
    assert abs(mean - total) / total < 0.25, (mean, total)

    # n <= k: no truncation, tau = 0, estimates are exact
    small = docs.limit(40)
    exact = priority_sample(small, "doc_id", "n_chars", 100).collect()
    assert len(exact) == 40
    assert all(r["weight_est"] == float(r["n_chars"]) for r in exact)


def test_priority_sample_merge_law(docs):
    """Per-shard top-(k+1) priorities re-merged == whole-corpus sample:
    priority sampling IS bottom-k on u/w, so the min-k merge law holds."""
    from hyperloglog_spark.pipeline import priority_sample

    whole = priority_sample(docs, "doc_id", "n_chars", 60).collect()
    s1 = priority_sample(
        docs.filter("doc_id % 2 = 0"), "doc_id", "n_chars", 60
    )
    s2 = priority_sample(
        docs.filter("doc_id % 2 = 1"), "doc_id", "n_chars", 60
    )
    # re-take k from the union of shard samples by priority
    merged = (
        s1.unionByName(s2)
        .orderBy(F.desc("priority"), "doc_id")
        .limit(60)
        .collect()
    )
    assert sorted(r["doc_id"] for r in merged) == sorted(
        r["doc_id"] for r in whole
    )


def test_kmv_distinct_accuracy_and_exact_regime(spark, docs):
    from hyperloglog_spark.pipeline import kmv_distinct

    # known cardinality 20_000 with duplicates, k=512 -> ~1/sqrt(510) rel err
    df = spark.range(60_000).select((F.col("id") % 20_000).alias("key"))
    est = kmv_distinct(df, "key", k=512).first()["n_distinct_est"]
    assert abs(est - 20_000) / 20_000 < 3 / (510 ** 0.5), est

    # partitioning invariance (deterministic hash, min-k merge law)
    est2 = kmv_distinct(
        df.repartition(17), "key", k=512
    ).first()["n_distinct_est"]
    assert est == est2

    # below k distinct the sketch IS the exact set
    exact = kmv_distinct(docs, "doc_id", k=1024).first()
    assert exact["n_distinct_est"] == 500

    # md5 mode agrees within the bound (different hash family, same law)
    m = kmv_distinct(df, "key", k=512, hashing="md5").first()[
        "n_distinct_est"
    ]
    assert abs(m - 20_000) / 20_000 < 3 / (510 ** 0.5), m


# ------------------------------------------------- repetition stats (Gopher)


def test_repetition_stats_hand_cases(spark):
    from hyperloglog_spark.pipeline import repetition_stats

    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "x y z w"), (3, "hello"), (4, "q q q q")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r.asDict()
           for r in repetition_stats(df, "text", "doc_id").collect()}
    # doc 1: 6 tokens 2 types -> 666; bigrams [ab,ba,ab,ba,ab] top 3/5,
    # dup 5/5; trigrams [aba,bab,aba,bab] top 2/4, dup 4/4
    assert got[1] == {"doc_id": 1, "n_tokens": 6, "dup_word_permille": 666,
                      "top_bigram_permille": 600, "dup_bigram_permille": 1000,
                      "top_trigram_permille": 500,
                      "dup_trigram_permille": 1000, "repetitive": True}
    # doc 2: all distinct -> top bigram 1/3 = 333, no dups
    assert got[2]["dup_bigram_permille"] == 0
    assert got[2]["top_bigram_permille"] == 333
    assert got[2]["dup_word_permille"] == 0
    # doc 3: single token -> no n-grams, all zero, not repetitive
    assert got[3] == {"doc_id": 3, "n_tokens": 1, "dup_word_permille": 0,
                      "top_bigram_permille": 0, "dup_bigram_permille": 0,
                      "top_trigram_permille": 0, "dup_trigram_permille": 0,
                      "repetitive": False}
    # doc 4: one word repeated -> everything saturates at 1000
    assert got[4]["top_bigram_permille"] == 1000
    assert got[4]["dup_trigram_permille"] == 1000
    assert got[4]["repetitive"]


def test_repetition_stats_vs_duckdb(docs):
    from hyperloglog_spark.pipeline import repetition_stats

    got = {r["doc_id"]: (r["top_bigram_permille"], r["dup_bigram_permille"],
                         r["top_trigram_permille"], r["dup_trigram_permille"])
           for r in repetition_stats(docs, "text", "doc_id").collect()}
    want = {r[0]: tuple(r[1:]) for r in duckdb.sql(f"""
WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS w
              FROM '{DOCS}'),
bgrows AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS g
           FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM toks)),
bg AS (SELECT doc_id, max(c) AS topc,
              sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dupc, sum(c) AS n
       FROM (SELECT doc_id, g, count(*) AS c FROM bgrows GROUP BY doc_id, g)
       GROUP BY doc_id),
tgrows AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
           FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i
                 FROM toks)),
tg AS (SELECT doc_id, max(c) AS topc,
              sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dupc, sum(c) AS n
       FROM (SELECT doc_id, g, count(*) AS c FROM tgrows GROUP BY doc_id, g)
       GROUP BY doc_id)
SELECT bg.doc_id,
       CAST(floor(bg.topc * 1000.0 / bg.n) AS BIGINT),
       CAST(floor(bg.dupc * 1000.0 / bg.n) AS BIGINT),
       CAST(floor(tg.topc * 1000.0 / tg.n) AS BIGINT),
       CAST(floor(tg.dupc * 1000.0 / tg.n) AS BIGINT)
FROM bg JOIN tg ON bg.doc_id = tg.doc_id""").fetchall()}
    assert got == want


def test_repetition_stats_plan_has_zero_exchanges(docs):
    from hyperloglog_spark.pipeline import repetition_stats

    docs.sparkSession.catalog.clearCache()
    plan = repetition_stats(docs, "text", "doc_id")._jdf.queryExecution(
    ).executedPlan().toString()
    # per-row sort+fold in codegen: the stats must not shuffle anything
    assert "Exchange" not in plan


# ------------------------------------------------------- curation pipeline


def test_curate_documents_flags_and_keep(spark):
    from hyperloglog_spark.pipeline import curate_documents

    rows = [
        (1, "the cat sat on the mat with a hat and a bat near the door"),
        (2, "the cat sat on the mat with a hat and a bat near the door"),
        (3, "x y " * 40),                       # repetitive, not en
        (4, "это русский текст для проверки"),  # ru
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r.asDict()
           for r in curate_documents(df, "text", "doc_id").collect()}
    # dup pair: only the min id is canonical
    assert got[1]["is_canonical"] and not got[2]["is_canonical"]
    assert got[1]["lang_ok"] and got[1]["lang_pred"] == "en"
    assert got[3]["repetitive"] and not got[3]["keep"]
    assert got[4]["lang_pred"] == "ru" and not got[4]["lang_ok"]
    assert not got[2]["keep"]  # same text, loses only on canonicality
    assert all(r["sampled"] for r in got.values())  # rate 1000 keeps all


def test_curate_documents_deterministic_under_repartition(docs):
    from hyperloglog_spark.pipeline import curate_documents

    a = sorted(map(tuple, curate_documents(
        docs, "text", "doc_id", sample_permille=700).collect()))
    b = sorted(map(tuple, curate_documents(
        docs.repartition(11), "text", "doc_id",
        sample_permille=700).collect()))
    assert a == b
    kept = sum(1 for r in a if r[-1])
    assert 0 < kept < len(a)  # the sample + gates actually drop something


def test_curate_documents_plan_shape(docs):
    from hyperloglog_spark.pipeline import curate_documents

    docs.sparkSession.catalog.clearCache()
    # without decontam: lang/quality/repetition/sample are pure codegen
    # and the text column NEVER crosses an Exchange — dedup shuffles a
    # narrow (md5 fp, id) projection, the verdict join shuffles id+flags
    plan = curate_documents(docs, "text", "doc_id")._jdf.queryExecution(
    ).executedPlan().toString()
    assert plan.count("Exchange") <= 3
    assert "CartesianProduct" not in plan
    # no Exchange may carry the text attribute: the operator directly
    # under each Exchange (its shuffle input) must not OUTPUT a bare
    # text#N column (expressions like md5(text#N) AS __fp are fine — the
    # text is consumed before the shuffle, not moved through it)
    import re

    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange" in ln and i + 1 < len(lines):
            child = lines[i + 1]
            assert not re.search(r"[\[, ]text#\d+[,\]]", child), \
                f"text shuffled at: {ln}\n{child}"
    # with decontam: gram probe is a broadcast, never a SortMergeJoin of
    # gram tables; the doc-id join adds bounded Exchanges
    bench = docs.filter("doc_id % 50 = 0")
    plan2 = curate_documents(
        docs, "text", "doc_id", benchmark=bench
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan2
    assert plan2.count("Exchange") <= 7


# ------------------------------------------------- product quantization


def _clustered_vecs(spark, n=400, n_centers=20, dim=32, seed=5):
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_centers, dim)) * 3
    pdf = [(int(i),
            [float(x) for x in centers[i % n_centers]
             + rng.standard_normal(dim) * 0.1])
           for i in range(n)]
    return spark.createDataFrame(pdf, ["vec_id", "embedding"])


def test_pq_topk_recall_on_clustered_vectors(spark):
    """Planted clusters -> ADC over 4-bit-per-subspace codes still ranks
    the true nearest cluster-mates on top."""
    from hyperloglog_spark.pipeline import brute_force_topk, pq_topk

    df = _clustered_vecs(spark)
    q = df.filter(F.col("vec_id") < 20)
    bf = {(r["query_id"], r["rank"]): r["neighbor_id"]
          for r in brute_force_topk(df, q, "vec_id", "embedding",
                                    k=1).collect()}
    pq = {(r["query_id"], r["rank"]): r["neighbor_id"]
          for r in pq_topk(df, q, "vec_id", "embedding", k=1,
                           m=8, n_codes=16, iters=2).collect()}
    hits = sum(bf[k] == pq.get(k) for k in bf)
    assert hits / len(bf) >= 0.9


def test_pq_fit_grid_mode_partition_invariant(spark):
    from hyperloglog_spark.pipeline import fit_pq_codebooks

    df = _clustered_vecs(spark, n=200)
    a = fit_pq_codebooks(df, "vec_id", "embedding", m=4, n_codes=8,
                         iters=2, grid_bits=20, hashing="md5")
    b = fit_pq_codebooks(df.repartition(13), "vec_id", "embedding", m=4,
                         n_codes=8, iters=2, grid_bits=20, hashing="md5")
    assert a.shape == (4, 8, 8)
    assert np.array_equal(a, b)  # grid sums are exact -> bit-identical


def test_pq_encode_one_byte_per_subspace(spark):
    from hyperloglog_spark.pipeline import fit_pq_codebooks, pq_encode

    df = _clustered_vecs(spark, n=100)
    cb = fit_pq_codebooks(df, "vec_id", "embedding", m=8, n_codes=16)
    rows = pq_encode(df, "vec_id", "embedding", cb).collect()
    assert len(rows) == 100
    assert all(len(bytes(r["codes"])) == 8 for r in rows)
    assert all(b < 16 for r in rows for b in bytes(r["codes"]))


def test_pq_topk_query_budget_enforced(spark):
    from hyperloglog_spark.pipeline import fit_pq_codebooks, pq_topk

    df = _clustered_vecs(spark, n=60)
    cb = fit_pq_codebooks(df, "vec_id", "embedding", m=4, n_codes=8)
    with pytest.raises(ValueError, match="max_queries"):
        pq_topk(df, df, "vec_id", "embedding", k=2, codebooks=cb,
                max_queries=10)


def test_pq_self_score_near_unity(spark):
    """A query identical to a corpus vector: ADC(self) ~ 1 within the
    quantization error of reconstructing a unit vector from codewords."""
    from hyperloglog_spark.pipeline import fit_pq_codebooks, pq_topk

    df = _clustered_vecs(spark, n=200)
    cb = fit_pq_codebooks(df, "vec_id", "embedding", m=8, n_codes=16,
                          iters=3)
    out = pq_topk(df, df.filter(F.col("vec_id") < 5), "vec_id",
                  "embedding", k=3, codebooks=cb,
                  exclude_self=False).collect()
    top = {r["query_id"]: (r["neighbor_id"], r["score_permille"])
           for r in out if r["rank"] == 1}
    for qid, (nid, pm) in top.items():
        assert pm > 900  # tight clusters + trained codebooks reconstruct well


def test_ivf_pq_topk_recall_on_clustered_vectors(spark):
    """The composed IVFADC path: probes the right cells AND re-ranks
    exactly — recall@1 vs brute force on planted clusters."""
    from hyperloglog_spark.pipeline import brute_force_topk, ivf_pq_topk
    from hyperloglog_spark.pipeline.similarity import (
        fit_ivf_centroids_distributed,
    )

    df = _clustered_vecs(spark)
    q = df.filter(F.col("vec_id") < 20)
    cents = fit_ivf_centroids_distributed(
        df, "vec_id", "embedding", n_cells=16, iters=3)
    bf = {(r["query_id"], r["rank"]): r["neighbor_id"]
          for r in brute_force_topk(df, q, "vec_id", "embedding",
                                    k=1).collect()}
    got = {(r["query_id"], r["rank"]): r["neighbor_id"]
           for r in ivf_pq_topk(df, q, "vec_id", "embedding", k=1,
                                centroids=cents, nprobe=4,
                                m=8, n_codes=16, iters=2).collect()}
    hits = sum(bf[k] == got.get(k) for k in bf)
    assert hits / len(bf) >= 0.9


def test_pq_stored_index_matches_live_encode(spark):
    """Serving pattern: pq_encode once -> search from the stored codes.
    Given the same codebooks the stored-index ADC results equal the live
    pq_topk(refine=False) results row for row, and the refined variant
    equals pq_topk(refine=True)."""
    from hyperloglog_spark.pipeline import (
        fit_pq_codebooks, pq_encode, pq_topk, pq_topk_from_codes,
    )

    df = _clustered_vecs(spark, n=250)
    q = df.filter(F.col("vec_id") < 10)
    cb = fit_pq_codebooks(df, "vec_id", "embedding", m=8, n_codes=16,
                          iters=2)
    codes = pq_encode(df, "vec_id", "embedding", cb)

    live = pq_topk(df, q, "vec_id", "embedding", k=5, codebooks=cb,
                   refine=False).collect()
    stored = pq_topk_from_codes(codes, q, "vec_id", cb, k=5).collect()
    assert sorted(map(tuple, live)) == sorted(map(tuple, stored))

    live_r = pq_topk(df, q, "vec_id", "embedding", k=5, codebooks=cb,
                     refine=True).collect()
    stored_r = pq_topk_from_codes(
        codes, q, "vec_id", cb, k=5, corpus=df, vec_col="embedding"
    ).collect()
    assert sorted(map(tuple, live_r)) == sorted(map(tuple, stored_r))


def test_curate_oracle_parity_on_randomized_corpus(spark):
    """Re-bind the driver's full-composition curate oracle to a RANDOMIZED
    corpus with edge cases (single tokens, exact duplicates, repeated
    phrases, unicode, punctuation walls) — the md5 mirror must stay
    hash-exact on inputs the fixed sf0.01 corpus never exercises."""
    import __spark_entry__ as entrymod

    rng = np.random.default_rng(41)
    vocab = ["the", "cat", "sat", "on", "mat", "data", "spark", "row",
             "x", "é", "42", "a"]
    rows = []
    for i in range(80):
        n = int(rng.integers(1, 25))
        toks = list(rng.choice(vocab, size=n))
        rows.append((i, " ".join(toks)))
        if rng.random() < 0.3:
            rows.append((1000 + i, " ".join(toks)))      # exact duplicate
        if rng.random() < 0.2:
            rows.append((2000 + i, " ".join(toks[:3] * 10)))  # repetitive
    rows.append((9000, "hello"))
    rows.append((9001, "¿qué? ¡sí! ... ---"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    from hyperloglog_spark.pipeline import curate_documents

    got = curate_documents(
        df, "text", "doc_id",
        benchmark=df.filter(F.col("doc_id") % 50 == 0),
        langs=("en",), min_quality=300, sample_permille=900,
        hashing="md5",
    ).select(
        "doc_id", "lang_pred", "score", "repetitive", "is_canonical",
        "contaminated", "sampled", "lang_ok", "quality_ok", "keep",
    ).collect()

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    duck = con.sql(entrymod.oracle_sql()["curate_documents"])
    want = {r[0]: tuple(r[1:]) for r in duck.fetchall()}
    gotmap = {r["doc_id"]: (r["lang_pred"], r["score"], r["repetitive"],
                            r["is_canonical"], r["contaminated"],
                            r["sampled"], r["lang_ok"], r["quality_ok"],
                            r["keep"])
              for r in got}
    assert gotmap == want


def test_repetition_oracle_parity_on_randomized_corpus(spark):
    """Re-bind the driver's repetition oracle to randomized docs with
    single tokens, long repeats, and unicode — hash-exact everywhere."""
    import __spark_entry__ as entrymod
    from hyperloglog_spark.pipeline import repetition_stats

    rng = np.random.default_rng(59)
    vocab = ["a", "b", "cc", "ddd", "é", "42", "x y"]
    rows = []
    for i in range(60):
        n = int(rng.integers(1, 30))
        toks = list(rng.choice(vocab, size=n))
        rows.append((i, " ".join(toks)))
        if rng.random() < 0.25:
            rows.append((500 + i, " ".join(toks[:2] * 15)))
    rows.append((900, "solo"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: tuple(r)[1:]
           for r in repetition_stats(df, "text", "doc_id").collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    duck = con.sql(entrymod.oracle_sql()["text_repetition_stats"])
    want = {r[0]: tuple(r[1:]) for r in duck.fetchall()}
    assert got == want


def test_ivf_pq_residual_encoding(spark):
    """Residual encoding (true IVFADC): quantizing u - c_cell must
    reconstruct strictly better than quantizing u at the same code budget
    (the coarse quantizer absorbs the cluster structure, so the codes
    spend their bits on what the cell id does not encode), ADC without
    re-rank must retrieve the right CLUSTER, and the full pipeline with
    re-rank stays near-exact."""
    from hyperloglog_spark.pipeline import (
        brute_force_topk, fit_pq_codebooks, ivf_pq_topk,
    )
    from hyperloglog_spark.pipeline.similarity import (
        _normalize, fit_ivf_centroids_distributed,
    )

    df = _clustered_vecs(spark, n=400)
    q = df.filter(F.col("vec_id") < 30)
    cents = fit_ivf_centroids_distributed(
        df, "vec_id", "embedding", n_cells=16, iters=3)
    cb_plain = fit_pq_codebooks(df, "vec_id", "embedding", m=8, n_codes=8,
                                iters=2)
    cb_res = fit_pq_codebooks(df, "vec_id", "embedding", m=8, n_codes=8,
                              iters=2, centroids=cents)

    rows = sorted((r["vec_id"], r["embedding"])
                  for r in df.select("vec_id", "embedding").collect())
    u = _normalize(np.array([v for _, v in rows], dtype=np.float64))
    cell = np.argmax(u @ cents.T, axis=1)
    res = u - cents[cell]
    m, n_codes, d = cb_plain.shape

    def recon_err(mat, cb, add=None):
        subs = mat.reshape(len(mat), m, d)
        out = np.empty_like(mat)
        for s in range(m):
            dist = ((subs[:, s, :, None] - cb[s].T[None]) ** 2).sum(axis=1)
            out[:, s * d:(s + 1) * d] = cb[s][np.argmin(dist, axis=1)]
        if add is not None:
            out = out + add
        return float(np.linalg.norm(u - out, axis=1).mean())

    e_plain = recon_err(u, cb_plain)
    e_res = recon_err(res, cb_res, add=cents[cell])
    assert e_res < e_plain  # residual codes reconstruct strictly better

    # raw ADC (no re-rank): the top-1 neighbor must come from the query's
    # true cluster (vec_id % 20 partitions the planted clusters)
    got = ivf_pq_topk(df, q, "vec_id", "embedding", k=1, centroids=cents,
                      codebooks=cb_res, nprobe=4, refine=False,
                      residual=True).collect()
    cluster_hits = sum(
        1 for r in got if r["neighbor_id"] % 20 == r["query_id"] % 20)
    assert cluster_hits / len(got) >= 0.9

    # full pipeline with exact re-rank: near-exact recall@1
    bf = {(r["query_id"], r["rank"]): r["neighbor_id"]
          for r in brute_force_topk(df, q, "vec_id", "embedding",
                                    k=1).collect()}
    got2 = {(r["query_id"], r["rank"]): r["neighbor_id"]
            for r in ivf_pq_topk(df, q, "vec_id", "embedding", k=1,
                                 centroids=cents, codebooks=cb_res,
                                 nprobe=4, refine=True,
                                 residual=True).collect()}
    hits = sum(bf[key] == got2.get(key) for key in bf)
    assert hits / len(bf) >= 0.9


def test_pq_stored_residual_index_matches_full_probe_ivfadc(spark):
    """Stored residual index (id, cell, codes) + biased ADC scan ==
    ivf_pq_topk(residual=True, refine=False) probing every cell."""
    from hyperloglog_spark.pipeline import (
        fit_pq_codebooks, ivf_pq_topk, pq_encode, pq_topk_from_codes,
    )
    from hyperloglog_spark.pipeline.similarity import (
        fit_ivf_centroids_distributed,
    )

    df = _clustered_vecs(spark, n=250)
    q = df.filter(F.col("vec_id") < 8)
    cents = fit_ivf_centroids_distributed(
        df, "vec_id", "embedding", n_cells=8, iters=2)
    cb = fit_pq_codebooks(df, "vec_id", "embedding", m=8, n_codes=16,
                          iters=2, centroids=cents)
    codes = pq_encode(df, "vec_id", "embedding", cb, centroids=cents)
    assert "cell" in codes.columns

    stored = pq_topk_from_codes(
        codes, q, "vec_id", cb, k=5, centroids=cents).collect()
    live = ivf_pq_topk(df, q, "vec_id", "embedding", k=5, centroids=cents,
                       codebooks=cb, nprobe=8, refine=False,
                       residual=True).collect()
    assert sorted(map(tuple, stored)) == sorted(map(tuple, live))


# ----------------------------------------------- the shared ANN top-k tail


def _ann_ops():
    """Every ANN operator as ``(corpus, queries, k, exclude_self) -> df``;
    lsh/ivf probe enough buckets to find every neighbor on the tiny test
    corpora, pq re-ranks a shortlist that covers the whole corpus."""
    from hyperloglog_spark.pipeline import (
        blocked_topk, fit_pq_codebooks, ivf_pq_topk, ivf_topk, pq_encode,
        pq_topk, pq_topk_from_codes,
    )

    def from_codes(c, q, k, ex):
        cb = fit_pq_codebooks(c, "vec_id", "embedding", m=2, n_codes=4)
        return pq_topk_from_codes(pq_encode(c, "vec_id", "embedding", cb),
                                  q, "vec_id", cb, k=k, corpus=c,
                                  vec_col="embedding", refine_k=64,
                                  exclude_self=ex)

    args = ("vec_id", "embedding")
    return {
        "brute_force_topk": lambda c, q, k, ex: brute_force_topk(
            c, q, *args, k=k, exclude_self=ex),
        "blocked_topk": lambda c, q, k, ex: blocked_topk(
            c, q, *args, k=k, n_blocks=3, exclude_self=ex),
        "lsh_topk": lambda c, q, k, ex: lsh_topk(
            c, q, *args, k=k, nbits=1, exclude_self=ex),
        "ivf_topk": lambda c, q, k, ex: ivf_topk(
            c, q, *args, k=k, n_cells=4, nprobe=4, exclude_self=ex),
        "pq_topk": lambda c, q, k, ex: pq_topk(
            c, q, *args, k=k, m=2, n_codes=4, refine_k=64, exclude_self=ex),
        "ivf_pq_topk": lambda c, q, k, ex: ivf_pq_topk(
            c, q, *args, k=k, n_cells=4, nprobe=4, m=2, n_codes=4,
            refine_k=64, exclude_self=ex),
        "pq_topk_from_codes": from_codes,
    }


_VEC_SCHEMA = "vec_id bigint, embedding array<double>"


@pytest.mark.parametrize("op", list(_ann_ops()) + ["embedding_neardup_pairs"])
def test_ann_null_vectors_take_no_part(spark, op):
    """A NULL vector, on the corpus or on the query side, is dropped like
    a NULL under COUNT(DISTINCT): every operator answers exactly as over
    the corpus without that row (the NULL row comes first, where it used
    to set the batch's vector width)."""
    from hyperloglog_spark.pipeline import embedding_neardup_pairs

    rng = np.random.default_rng(23)
    base = rng.standard_normal((30, 8))
    vecs = np.vstack([base, base[:10] + rng.standard_normal((10, 8)) * 0.01])
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    clean = spark.createDataFrame(rows, _VEC_SCHEMA)
    dirty = spark.createDataFrame([(1000, None)] + rows, _VEC_SCHEMA)

    if op == "embedding_neardup_pairs":
        def run(c):
            return embedding_neardup_pairs(c, "vec_id", "embedding",
                                           nbits=16, max_hamming=3)
    else:
        def run(c):
            q = c.filter((F.col("vec_id") < 10) | (F.col("vec_id") == 1000))
            return _ann_ops()[op](c, q, 3, True)
    want = sorted(map(tuple, run(clean).collect()))
    assert want                                          # non-vacuous
    assert sorted(map(tuple, run(dirty).collect())) == want


@pytest.mark.parametrize("exclude_self", [True, False])
@pytest.mark.parametrize("op", list(_ann_ops()))
def test_ann_topk_ties_rank_lower_ids_first(spark, op, exclude_self):
    """Five neighbors tie on permille and k=3 cuts inside the tie group:
    every operator ranks the lowest ids first, self excluded or first.
    The query set derives from the corpus DataFrame (a self-join shape)."""
    tied = [9, 4, 7, 2, 5]
    rows = [(0, [1.0, 0.0, 0.0, 0.0])]
    rows += [(i, [1.0, 0.2, 0.0, 0.0]) for i in tied]
    rows += [(i, v) for i, v in zip(
        (1, 3, 6, 8), ([0.0, 0.0, 1.0, 0.0], [0.0, 0.0, 0.0, 1.0],
                       [0.0, 1.0, 1.0, 0.0], [-1.0, 0.0, 0.3, 0.0]))]
    corpus = spark.createDataFrame(rows, _VEC_SCHEMA).repartition(4)
    got = _ann_ops()[op](corpus, corpus.filter(F.col("vec_id") == 0), 3,
                         exclude_self).collect()
    want = [2, 4, 5] if exclude_self else [0, 2, 4]
    assert [(r["rank"], r["neighbor_id"]) for r in got] == \
        list(enumerate(want, 1))
    assert {r["score_permille"] for r in got if r["neighbor_id"] != 0} \
        == {980}


@pytest.mark.parametrize("op", ["brute_force_topk", "blocked_topk",
                                "ivf_topk", "pq_topk"])
def test_ann_exclude_self_before_the_cut(spark, op):
    """k=1 over 4 partitions, every query's best match is itself: each
    gets its best NON-self neighbor (the exact numpy answer)."""
    rng = np.random.default_rng(29)
    vecs = rng.standard_normal((40, 8))
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        _VEC_SCHEMA).repartition(4)
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    pm = np.floor(unit @ unit.T * 1000.0)
    np.fill_diagonal(pm, -np.inf)
    want = [(q, 1, int(np.lexsort((np.arange(40), -pm[q]))[0]))
            for q in range(40)]
    got = _ann_ops()[op](corpus, corpus, 1, True).collect()
    assert [(r["query_id"], r["rank"], r["neighbor_id"]) for r in got] \
        == want


# ------------------------------------------- numpy image codecs (round 4)


def test_ppm_pgm_roundtrip_and_comments():
    """Pure-numpy Netpbm codec: encode/decode round-trips bit-exactly for
    P6 color and P5 gray, including odd widths and header comments."""
    from hyperloglog_spark.pipeline.multimodal import decode_image, encode_ppm

    rng = np.random.default_rng(3)
    color = rng.integers(0, 256, (7, 5, 3), dtype=np.uint8)
    assert np.array_equal(decode_image(encode_ppm(color)), color)
    gray = rng.integers(0, 256, (6, 9), dtype=np.uint8)
    assert np.array_equal(decode_image(encode_ppm(gray)), gray)
    enc = encode_ppm(color)
    commented = (b"P6\n# a comment\n5 7\n# another\n255\n"
                 + enc[enc.index(b"255\n") + 4:])
    assert np.array_equal(decode_image(commented), color)


def test_bmp_roundtrip_padding_and_flip():
    """24-bit BI_RGB BMP codec: row padding (w=5 -> stride 16), bottom-up
    storage, and BGR order all undone on decode."""
    from hyperloglog_spark.pipeline.multimodal import decode_image, encode_bmp

    rng = np.random.default_rng(5)
    padded = rng.integers(0, 256, (7, 5, 3), dtype=np.uint8)
    assert np.array_equal(decode_image(encode_bmp(padded)), padded)
    aligned = rng.integers(0, 256, (3, 4, 3), dtype=np.uint8)
    assert np.array_equal(decode_image(encode_bmp(aligned)), aligned)
    # corner pixel sanity: encoded first data row is the BOTTOM image row
    # in BGR; decode must restore arr[0,0] = RGB of the top-left pixel
    enc = encode_bmp(padded)
    assert enc[54:57] == bytes(padded[-1, 0, ::-1])


def test_bmp_rejects_unsupported():
    from hyperloglog_spark.pipeline.multimodal import _decode_bmp, encode_bmp

    enc = bytearray(encode_bmp(np.zeros((2, 2, 3), dtype=np.uint8)))
    enc[28] = 8  # bpp=8
    with pytest.raises(ValueError, match="24-bit"):
        _decode_bmp(bytes(enc))


def test_compressed_formats_still_guarded():
    """PNG/JPEG still route through the import-guarded PIL seam."""
    from hyperloglog_spark.pipeline.multimodal import _try_pil, decode_image

    if _try_pil() is None:
        with pytest.raises(NotImplementedError, match="PIL"):
            decode_image(b"\x89PNG\r\n\x1a\n")


def test_real_decode_through_spark_plumbing(docs):
    """End-to-end REAL decode (no codec library): deterministic PPM/BMP
    assets -> extract_features(decoder=decoded_pixel_stats) -> exact
    integer stats matching the pixel generator."""
    from hyperloglog_spark.pipeline.multimodal import (
        decoded_pixel_stats, extract_features, synthesize_image_assets,
    )

    assets = synthesize_image_assets(docs.limit(60), "doc_id")
    rows = extract_features(assets, decoder=decoded_pixel_stats).collect()
    assert len(rows) == 60
    for r in rows[:20]:
        i = r["asset_id"]
        px = (i * 31 + np.arange(36, dtype=np.int64)) % 256
        f = r["features"]
        assert r["n_bytes"] == (47 if i % 2 == 0 else 90)
        assert f[1] == px.sum() and f[2] == (px * px).sum()
        assert f[3] == px.min() and f[4] == px.max()
        assert (f[5], f[6], f[7]) == (4.0, 3.0, 3.0)


def test_wav_roundtrip_and_chunk_walk():
    """Pure-numpy WAV (PCM16) codec: mono/stereo round-trips bit-exactly;
    the RIFF chunk walker tolerates extra chunks (even and odd sizes) and
    rejects non-PCM formats."""
    import struct

    from hyperloglog_spark.pipeline.multimodal import decode_audio, encode_wav

    rng = np.random.default_rng(9)
    mono = rng.integers(-32768, 32768, size=100, dtype=np.int16)
    dec, rate = decode_audio(encode_wav(mono, 8000))
    assert rate == 8000 and np.array_equal(dec[:, 0], mono)
    stereo = rng.integers(-32768, 32768, size=(50, 2), dtype=np.int16)
    dec2, rate2 = decode_audio(encode_wav(stereo, 44100))
    assert rate2 == 44100 and np.array_equal(dec2, stereo)
    enc = encode_wav(mono, 8000)
    for size, body in ((6, b"abcdef"), (5, b"abcde\x00")):  # odd -> padded
        extra = struct.pack("<4sI", b"LIST", size) + body
        patched = enc[:36] + extra + enc[36:]
        patched = patched[:4] + struct.pack(
            "<I", len(patched) - 8) + patched[8:]
        dec3, _ = decode_audio(patched)
        assert np.array_equal(dec3[:, 0], mono)
    bad = bytearray(enc)
    bad[20] = 3  # audio_format = IEEE float
    with pytest.raises(ValueError, match="PCM"):
        decode_audio(bytes(bad))


def test_real_audio_decode_through_spark_plumbing(docs):
    from hyperloglog_spark.pipeline.multimodal import (
        decoded_audio_stats, extract_features, synthesize_audio_assets,
    )

    assets = synthesize_audio_assets(docs.limit(40), "doc_id")
    rows = extract_features(assets, decoder=decoded_audio_stats).collect()
    assert len(rows) == 40
    for r in rows[:15]:
        i = r["asset_id"]
        v = (i * 37 + np.arange(24, dtype=np.int64) * 257) % 4001 - 2000
        f = r["features"]
        assert r["n_bytes"] == 92
        assert f[1] == v.sum() and f[2] == (v * v).sum()
        assert f[3] == v.min() and f[4] == v.max()
        assert (f[5], f[6], f[7]) == (24.0, 16000.0, 1.0)


def test_y4m_roundtrip_and_rejections():
    """Pure-numpy Y4M (YUV4MPEG2 C420) codec: luma round-trips bit-exactly
    across frames; odd dimensions and non-420 colorspaces rejected."""
    from hyperloglog_spark.pipeline.multimodal import decode_video, encode_y4m

    rng = np.random.default_rng(2)
    fr = rng.integers(0, 256, (5, 6, 8), dtype=np.uint8)
    dec, fps = decode_video(encode_y4m(fr, fps=(30, 1)))
    assert fps == 30 and np.array_equal(dec, fr)
    with pytest.raises(ValueError, match="even"):
        encode_y4m(rng.integers(0, 256, (1, 3, 4), dtype=np.uint8))
    with pytest.raises(ValueError, match="C420"):
        decode_video(encode_y4m(fr).replace(b"C420jpeg", b"C444AAAA", 1))


def test_real_video_decode_through_spark_plumbing(docs):
    from hyperloglog_spark.pipeline.multimodal import (
        decoded_video_stats, extract_features, synthesize_video_assets,
    )

    assets = synthesize_video_assets(docs.limit(30), "doc_id")
    rows = extract_features(assets, decoder=decoded_video_stats).collect()
    assert len(rows) == 30
    for r in rows[:10]:
        i = r["asset_id"]
        f_idx = np.arange(3, dtype=np.int64)[:, None]
        j = np.arange(16, dtype=np.int64)[None, :]
        v = (i * 41 + f_idx * 13 + j * 7) % 256
        f = r["features"]
        assert r["n_bytes"] == 129
        assert f[1] == v.sum() and f[2] == (v * v).sum()
        assert f[3] == v.min() and f[4] == v.max()
        assert (f[5], f[6], f[7]) == (3.0, 4.0, 4.0)
