"""DataFrame-API analytics operators: dedup, simsearch, textstats,
multimodal plumbing — consistency with the SQL battery / NumPy oracles."""

import hashlib

import numpy as np
import pytest

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def test_exact_dedup_counts(spark, docs):
    from gluon_ocr_spark.operators.dedup import drop_exact_dups, exact_dedup

    total = docs.count()
    groups = exact_dedup(docs)
    assert groups.agg(F.sum("n_dups")).collect()[0][0] == total
    kept = drop_exact_dups(docs)
    assert kept.count() == groups.count()


def test_minhash_pairs_symmetric_and_verified(spark, docs):
    from gluon_ocr_spark.operators.dedup import jaccard_verify, minhash_candidate_pairs

    small = docs.limit(80)
    pairs = minhash_candidate_pairs(small)
    rows = pairs.collect()
    assert all(r["doc_a"] < r["doc_b"] for r in rows)
    verified = jaccard_verify(small, pairs, threshold=0.9).collect()
    assert all(r["jaccard"] >= 0.9 for r in verified)


def test_topk_exact_matches_numpy(spark, emb):
    from gluon_ocr_spark.operators.simsearch import topk_exact

    queries = emb.where(F.col("vec_id") < 3)
    got = topk_exact(emb, queries, k=4).collect()

    pdf = emb.toPandas().sort_values("vec_id")
    mat = np.floor(np.stack(pdf["embedding"].to_numpy()).astype(np.float64) * 10000).astype(np.int64)
    ids = pdf["vec_id"].to_numpy()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r["rnk"])
        qv = mat[ids == qid][0]
        dots = mat @ qv
        order = sorted(
            [(int(d), int(i)) for d, i in zip(dots, ids) if i != qid],
            key=lambda t: (-t[0], t[1]),
        )[:4]
        assert [(r["dot"], r["neighbor_id"]) for r in rows] == order


def test_lsh_recall_vs_exact(spark, emb):
    """LSH top-k must agree with exact top-k whenever the true neighbor
    shares the query's bucket (sanity: reasonable non-zero recall)."""
    from gluon_ocr_spark.operators.simsearch import topk_exact, topk_lsh

    queries = emb.where(F.col("vec_id") < 8)
    exact = {(r["query_id"], r["neighbor_id"]) for r in topk_exact(emb, queries, k=5).collect()}
    approx = {(r["query_id"], r["neighbor_id"]) for r in topk_lsh(emb, queries, k=5, n_bits=2).collect()}
    assert approx  # buckets are populated
    # with 2 hyperplanes P(collide) ≈ (1-θ/π)^2 — material recall even
    # on random data; any LSH hit must also be an exact-ranked pair
    recall = len(exact & approx) / len(exact)
    assert recall > 0.1


def test_lang_id_and_quality_columns(spark):
    from gluon_ocr_spark.operators.textstats import with_lang_id, with_quality, with_token_stats

    df = spark.createDataFrame(
        [
            (1, "the cat is in the hat and it is happy for now"),
            (2, "der hund ist nicht mit der katze und das ist gut"),
            (3, "el perro es una mascota para la casa con los gatos"),
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in with_lang_id(with_quality(with_token_stats(df))).collect()}
    assert out[1]["lang_pred"] == "en"
    assert out[2]["lang_pred"] == "de"
    assert out[3]["lang_pred"] == "es"
    assert out[1]["n_tokens"] == 12
    assert out[1]["quality_ok"] is True


def test_multimodal_metadata_plumbing(spark):
    from gluon_ocr_spark.operators.multimodal import frame_sample, media_metadata

    import numpy as np

    from gluon_ocr_spark.kernels.codecs import encode_png, encode_wav

    png = encode_png(np.arange(30 * 20 * 3, dtype=np.uint8).reshape(30, 20, 3) % 256)
    wav = encode_wav(np.arange(500, dtype=np.int16), rate=8000)
    payloads = [
        ("m1", png),  # real stdlib decode
        ("m2", b"\xff\xd8\xff\xe0" + b"y" * 50),  # JPEG: honest stub
        ("m3", wav),  # real stdlib decode
        ("m3x", b"RIFF....WAVE"),  # corrupt RIFF → fallback, not a crash
        ("m4", b"plainbytes"),
        ("m5", None),
    ]
    df = spark.createDataFrame(payloads, "media_id string, payload binary")
    meta = {r["media_id"]: r for r in media_metadata(df).collect()}
    assert meta["m1"]["kind"] == "image/png"
    assert (meta["m1"]["decoder"], meta["m1"]["width"], meta["m1"]["height"]) == ("stdlib-png", 20, 30)
    assert meta["m2"]["kind"] == "image/jpeg"
    assert meta["m2"]["decoder"] == "fake-deterministic"
    assert meta["m3"]["kind"] == "audio/wav"
    assert (meta["m3"]["decoder"], meta["m3"]["n_frames"]) == ("stdlib-wav", 500)
    assert meta["m3x"]["decoder"] == "fake-deterministic"  # junk never crashes
    assert meta["m4"]["kind"] == "application/octet-stream"
    assert meta["m5"]["n_bytes"] == 0
    assert meta["m1"]["digest"] == hashlib.sha256(png).hexdigest()[:16]

    frames = frame_sample(df.where(F.col("media_id") == "m2"), every_n=10).collect()
    w, _, f = __import__(
        "gluon_ocr_spark.operators.multimodal", fromlist=["_fake_decode"]
    )._fake_decode(payloads[1][1])
    assert len(frames) == (f + 9) // 10
    assert [r["frame_idx"] for r in sorted(frames, key=lambda r: r["frame_idx"])][0] == 0


def test_decode_strict_real_and_raises():
    import numpy as np

    from gluon_ocr_spark.kernels.codecs import encode_bmp, encode_ppm
    from gluon_ocr_spark.operators.multimodal import decode_media_strict

    img = (np.arange(8 * 6 * 3, dtype=np.uint8).reshape(8, 6, 3) * 3) % 256
    got = decode_media_strict(encode_bmp(img))
    assert got["decoder"] == "stdlib-bmp"
    assert np.array_equal(got["pixels"], img)
    got = decode_media_strict(encode_ppm(img))
    assert got["decoder"] == "stdlib-ppm"
    assert np.array_equal(got["pixels"], img)
    # truncated magic and entropy-coded formats still raise
    with pytest.raises(NotImplementedError):
        decode_media_strict(b"\x89PNG")
    with pytest.raises(NotImplementedError):
        decode_media_strict(b"\xff\xd8\xff\xe0jpegdata")


def test_lang_id_tie_break_agrees_across_apis(spark):
    """Both lang-id APIs (DataFrame twin and SQL CASE-chain) must
    resolve score ties identically: FIRST language in sorted order.
    Round 1 diverged (array_max picked last-lex on ties)."""
    import pandas as pd

    from gluon_ocr_spark.operators.textstats import with_lang_id
    from gluon_ocr_spark.queries import sql_text_lang_id
    from gluon_ocr_spark.functions.portable import SPARK as SPARK_D

    # crafted ties: 'la' hits fr AND es profiles equally; 'the und'
    # ties en/de; empty-ish text ties ALL at zero
    corpus = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "lang": ["xx", "xx", "xx"],
            "text": ["la la la", "the und", "zzz qqq"],
        }
    )
    df = spark.createDataFrame(corpus)
    df.createOrReplaceTempView("documents")
    api = {r["doc_id"]: r["lang_pred"] for r in with_lang_id(df).collect()}
    sql = {r["doc_id"]: r["lang_pred"] for r in spark.sql(sql_text_lang_id(SPARK_D)).collect()}
    assert api == sql
    assert api[1] == "es"  # es < fr
    assert api[2] == "de"  # de < en
    assert api[3] == "de"  # all-zero tie → first sorted lang


def test_image_features_cross_format_dedup(spark):
    """The dHash fingerprint depends on pixels, not the container:
    PNG/BMP/PPM encodings of one image collide; a different image
    doesn't. Undecodable payloads yield NULL rows, not failures."""
    import numpy as np

    from gluon_ocr_spark.kernels.codecs import encode_bmp, encode_png, encode_ppm
    from gluon_ocr_spark.operators.multimodal import image_features

    rng = np.random.default_rng(0)
    img = rng.integers(0, 256, size=(24, 32, 3)).astype(np.uint8)
    other = rng.integers(0, 256, size=(24, 32, 3)).astype(np.uint8)
    df = spark.createDataFrame(
        [
            ("png", encode_png(img)),
            ("bmp", encode_bmp(img)),
            ("ppm", encode_ppm(img)),
            ("other", encode_png(other)),
            ("junk", b"\xff\xd8\xffnotdecodable"),
        ],
        "media_id string, payload binary",
    )
    rows = {r["media_id"]: r for r in image_features(df).collect()}
    assert rows["png"]["dhash"] == rows["bmp"]["dhash"] == rows["ppm"]["dhash"]
    assert rows["png"]["dhash"] != rows["other"]["dhash"]
    assert rows["png"]["feature"] == rows["bmp"]["feature"]
    assert len(rows["png"]["feature"]) == 64
    assert rows["junk"]["dhash"] is None and rows["junk"]["feature"] is None


class TestConnectedComponents:
    """Duplicate-cluster resolution (large-star/small-star CC)."""

    def _cc(self, spark, edges):
        from gluon_ocr_spark.operators.dedup import connected_components

        pairs = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
        return {
            r["node"]: r["cluster_id"]
            for r in connected_components(pairs).collect()
        }

    def test_transitive_chain(self, spark):
        # A~B, B~C but A≁C directly — the case pairwise keep rules miss
        labels = self._cc(spark, [(1, 2), (2, 3)])
        assert labels == {1: 1, 2: 1, 3: 1}

    def test_long_path_needs_multiple_rounds(self, spark):
        # path 1-2-...-12: diameter 11 forces >1 large/small-star round
        labels = self._cc(spark, [(i, i + 1) for i in range(1, 12)])
        assert labels == {i: 1 for i in range(1, 13)}

    def test_two_components_and_reversed_dup_edges(self, spark):
        labels = self._cc(spark, [(5, 7), (7, 5), (7, 9), (20, 21), (21, 20)])
        assert labels == {5: 5, 7: 5, 9: 5, 20: 20, 21: 20}

    def test_random_graph_matches_union_find(self, spark):
        rng = np.random.default_rng(42)
        n = 60
        edges = [
            (int(a), int(b))
            for a, b in rng.integers(0, n, size=(80, 2))
            if a != b
        ]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent[find(a)] = find(b)
        comp = {}
        for v in range(n):
            comp.setdefault(find(v), []).append(v)
        expected = {v: min(vs) for vs in comp.values() for v in vs if len(vs) > 1}
        labels = self._cc(spark, edges)
        assert labels == expected

    def test_dedup_clusters_keep_policy(self, spark):
        from gluon_ocr_spark.operators.dedup import dedup_clusters

        corpus = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id bigint")
        pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "doc_a bigint, doc_b bigint")
        rows = {r["doc_id"]: r for r in dedup_clusters(corpus, pairs).collect()}
        assert len(rows) == 7  # every corpus doc, singletons included
        assert [rows[i]["cluster_id"] for i in range(1, 8)] == [1, 1, 1, 4, 5, 5, 7]
        assert [rows[i]["keep"] for i in range(1, 8)] == [
            True, False, False, True, True, False, True,
        ]
        assert rows[1]["cluster_size"] == 3 and rows[4]["cluster_size"] == 1


class TestResumableCC:
    """Durable-snapshot connected components: an interrupted job
    resumes at its last completed round (the iterative twin of the
    lineage/resume contract)."""

    def test_matches_in_memory_cc(self, spark, tmp_path):
        from gluon_ocr_spark.operators.dedup import (
            connected_components,
            connected_components_resumable,
        )

        edges = [(i, i + 1) for i in range(1, 12)] + [(30, 31), (31, 32)]
        pairs = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
        want = {
            (r["node"], r["cluster_id"]) for r in connected_components(pairs).collect()
        }
        got = {
            (r["node"], r["cluster_id"])
            for r in connected_components_resumable(
                spark, pairs, str(tmp_path / "cc")
            ).collect()
        }
        assert got == want

    def test_resume_after_interrupt(self, spark, tmp_path):
        from gluon_ocr_spark.operators.dedup import connected_components_resumable

        workdir = str(tmp_path / "cc2")
        edges = [(i, i + 1) for i in range(1, 16)]  # path: needs >1 round
        pairs = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")

        # "crash" after the first round: run with max_iterations=1
        connected_components_resumable(spark, pairs, workdir, max_iterations=1).collect()
        import os

        rounds_after_crash = sorted(os.listdir(workdir))
        assert len(rounds_after_crash) >= 2  # round 0 + at least one star round

        # restart WITHOUT the pair list: resumes from the snapshot
        labels = {
            r["node"]: r["cluster_id"]
            for r in connected_components_resumable(spark, None, workdir).collect()
        }
        assert labels == {i: 1 for i in range(1, 17)}
        # resumed run added rounds, didn't restart from 0
        assert sorted(os.listdir(workdir))[: len(rounds_after_crash)] == rounds_after_crash

    def test_resume_after_interrupt_through_a_filesystem_uri(self, spark, tmp_path):
        """A workdir given as a URI finds its completed rounds through the
        Hadoop filesystem of the path: the restart without pairs resumes
        from the snapshot instead of reporting none."""
        import os

        from gluon_ocr_spark.operators.dedup import connected_components_resumable

        local = str(tmp_path / "cc_uri")
        edges = [(i, i + 1) for i in range(1, 16)]
        pairs = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
        connected_components_resumable(spark, pairs, "file://" + local, max_iterations=1).collect()
        rounds_after_crash = sorted(os.listdir(local))

        labels = {
            r["node"]: r["cluster_id"]
            for r in connected_components_resumable(spark, None, "file://" + local).collect()
        }
        assert labels == {i: 1 for i in range(1, 17)}
        assert sorted(os.listdir(local))[: len(rounds_after_crash)] == rounds_after_crash

    def test_resume_without_snapshot_or_pairs_raises(self, spark, tmp_path):
        from gluon_ocr_spark.operators.dedup import connected_components_resumable

        with pytest.raises(ValueError, match="no snapshot"):
            connected_components_resumable(spark, None, str(tmp_path / "empty"))


def test_repetition_flags_degenerate_docs(spark, sf_dir):
    """Gopher-rule sanity: a synthetic degenerate doc scores far above
    normal corpus docs on every repetition column."""
    from gluon_ocr_spark.queries import register_views, sql_text_repetition
    from gluon_ocr_spark.functions.portable import SPARK as SP

    register_views(spark, sf_dir)
    base = spark.sql(sql_text_repetition(SP))
    normal_top = base.agg(F.expr("percentile(top_bigram_frac, 0.99)")).collect()[0][0]
    spam = spark.createDataFrame(
        [(999999, "buy now " * 200)], "doc_id bigint, text string"
    )
    spam.createOrReplaceTempView("documents")
    row = spark.sql(sql_text_repetition(SP)).collect()[0]
    assert row["top_bigram_frac"] > 0.4 > normal_top
    assert row["dup_bigram_frac"] > 0.9
    register_views(spark, sf_dir)  # restore the real view


def test_bigram_rarity_orders_gibberish_above_common(spark, sf_dir):
    from gluon_ocr_spark.queries import register_views, sql_text_bigram_rarity
    from gluon_ocr_spark.functions.portable import SPARK as SP

    register_views(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    import random

    rnd = random.Random(7)
    gib = " ".join("".join(rnd.choices("qxzjvw", k=6)) for _ in range(40))
    aug = docs.select("doc_id", "text").union(
        spark.createDataFrame([(888888, gib)], "doc_id bigint, text string")
    )
    aug.createOrReplaceTempView("documents")
    rows = {r["doc_id"]: r["mean_rank"] for r in spark.sql(sql_text_bigram_rarity(SP)).collect()}
    others = [v for k, v in rows.items() if k != 888888]
    assert rows[888888] > max(others)  # gibberish bigrams rank rarest
    register_views(spark, sf_dir)


def test_with_repetition_matches_sql_template(spark, docs):
    """Operator columns agree with the gated SQL template's per-doc
    dup/consec fractions (the shuffle-free subset)."""
    from gluon_ocr_spark.operators.textstats import with_repetition
    from gluon_ocr_spark.queries import sql_text_repetition
    from gluon_ocr_spark.functions.portable import SPARK as SP

    small = docs.limit(60)
    op = {
        r["doc_id"]: (r["dup_bigram_frac"], r["consec_dup_frac"])
        for r in with_repetition(small).select("doc_id", "dup_bigram_frac", "consec_dup_frac").collect()
    }
    small.createOrReplaceTempView("documents")
    sql = {
        r["doc_id"]: (r["dup_bigram_frac"], r["consec_dup_frac"])
        for r in spark.sql(sql_text_repetition(SP)).collect()
    }
    for k, v in sql.items():
        assert op[k] == v, k


def test_kmv_estimate_within_theory(spark, sf_dir):
    """KMV with k=64 has relative σ ≈ 1/sqrt(k−2) ≈ 12.7%; the
    estimate must land within 3σ of the exact distinct count."""
    from gluon_ocr_spark.queries import register_views, sql_sketch_kmv_distinct
    from gluon_ocr_spark.functions.portable import SPARK as SP

    register_views(spark, sf_dir)
    r = spark.sql(sql_sketch_kmv_distinct(SP)).collect()[0]
    assert r["exact_distinct"] > r["k"]  # estimator path engaged
    rel = abs(r["kmv_estimate"] - r["exact_distinct"]) / r["exact_distinct"]
    assert rel < 3 * 0.127


def test_stratified_sample_deterministic_and_rate_shaped(spark, sf_dir):
    from gluon_ocr_spark.queries import register_views, sql_corpus_sample_stratified
    from gluon_ocr_spark.functions.portable import SPARK as SP

    register_views(spark, sf_dir)
    a = {r["lang"]: r["n_sampled"] for r in spark.sql(sql_corpus_sample_stratified(SP)).collect()}
    b = {r["lang"]: r["n_sampled"] for r in spark.sql(sql_corpus_sample_stratified(SP)).collect()}
    assert a == b  # reruns select the same docs
    totals = {
        r["lang"]: r["n"]
        for r in spark.sql("SELECT lang, count(*) n FROM documents GROUP BY lang").collect()
    }
    # en keeps ~75%, es ~25% (binomial noise at corpus size)
    for lang, rate in (("en", 0.75), ("es", 0.25)):
        if lang in a and totals.get(lang, 0) >= 50:
            assert abs(a[lang] / totals[lang] - rate) < 0.2, lang


def test_with_compress_ratio(spark):
    import pandas as pd

    from gluon_ocr_spark.operators.textstats import compress_stats, with_compress_ratio

    texts = ["word " * 50, "the quick brown fox jumps over the lazy dog", "q9zX#k2!mN8vL5rT0w"]
    df = spark.createDataFrame(pd.DataFrame({"doc_id": range(3), "text": texts}))
    rows = {r["doc_id"]: r for r in with_compress_ratio(df).collect()}
    for i, t in enumerate(texts):
        raw, comp, ratio = compress_stats(t)
        assert rows[i]["n_raw_bytes"] == raw
        assert rows[i]["n_deflate_bytes"] == comp
        assert rows[i]["compress_ratio"] == ratio
        assert rows[i]["text"] == t  # passthrough columns intact
    # the repetitive doc compresses best
    assert rows[0]["compress_ratio"] < rows[1]["compress_ratio"] < rows[2]["compress_ratio"]


def test_train_bpe_on_corpus_deterministic(spark, sf_dir):
    """Corpus-trained BPE: hash-threshold sample is partitioning-
    invariant, merges are usable and lossless on corpus text."""
    from gluon_ocr_spark.kernels import bpe
    from gluon_ocr_spark.operators.textstats import train_bpe_on_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    m1 = train_bpe_on_corpus(docs, n_merges=120)
    m2 = train_bpe_on_corpus(docs.repartition(13), n_merges=120)
    assert m1 == m2 and len(m1) > 40
    ranks = bpe.build_ranks(m1)
    for r in docs.select("text").limit(5).collect():
        assert bpe.decode(bpe.encode(r["text"], ranks)) == r["text"]
    # corpus vocabulary differs from the seeded default table
    assert tuple(m1) != bpe.default_merges()


def test_dedup_semantic_matches_numpy(spark, sf_dir):
    """SemDeDup query vs an independent NumPy recompute: coarse-cell
    assignment (exact int64 L2, ties to lowest center id) and the
    upper-triangular within-cell drop (exact integer cosine, t=0.3)
    must agree row-for-row."""
    from gluon_ocr_spark.queries import (
        SPARK as SPARK_D,
        dedup_semantic_query,
        sql_dedup_semantic,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    emb.createOrReplaceTempView("embeddings")
    got = {
        r["vec_id"]: (r["cell"], r["kept"])
        for r in spark.sql(sql_dedup_semantic(SPARK_D)).collect()
    }
    # the gated operator override (persisted assignment) is row-identical
    via_op = {
        r["vec_id"]: (r["cell"], r["kept"])
        for r in dedup_semantic_query(spark, sf_dir).collect()
    }
    assert via_op == got

    pdf = emb.toPandas().sort_values("vec_id").reset_index(drop=True)
    ids = pdf["vec_id"].to_numpy()
    q = np.floor(np.stack(pdf["embedding"].to_numpy()).astype(np.float64) * 1000).astype(np.int64)
    centers = q[ids < 32]
    cids = ids[ids < 32]
    # exact L2 to each center; argmin takes the first (lowest cid) on ties
    d2 = ((q[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
    cell = cids[np.argmin(d2, axis=1)]
    nrm = (q * q).sum(axis=1)
    dropped = set()
    for c in np.unique(cell):
        members = np.where(cell == c)[0]
        for i_pos, i in enumerate(members):
            for j in members[i_pos + 1 :]:
                dot = int(q[i] @ q[j])
                if dot > 0 and dot * dot * 10000 >= 900 * int(nrm[i]) * int(nrm[j]):
                    dropped.add(int(ids[j]))
    assert len(got) == len(ids)
    n_dropped = 0
    for k, vid in enumerate(ids):
        want_kept = 0 if int(vid) in dropped else 1
        n_dropped += 1 - want_kept
        assert got[int(vid)] == (int(cell[k]), want_kept), vid
    assert n_dropped > 0  # threshold actually bites on the fixture


def test_ann_ivf_recall_monotone_in_nprobe(sf_dir):
    """Recall receipt invariants (engine-independent, checked on the
    DuckDB twin): 16 rows (8 queries × 2 probe settings), n_found ≤
    n_returned ≤ n_truth, and widening the probe set never loses a
    true neighbor (nprobe=2 dominates nprobe=1 per query)."""
    import duckdb

    from gluon_ocr_spark.queries import DUCK, sql_ann_ivf_recall

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    rows = con.execute(sql_ann_ivf_recall(DUCK)).fetchall()
    assert len(rows) == 16
    by = {(r[0], r[1]): r for r in rows}
    for (method, qid), (_, _, n_ret, n_found, n_truth) in by.items():
        assert 0 <= n_found <= n_ret <= n_truth == 5, (method, qid)
    for qid in range(8):
        assert by[("ivf_nprobe2", qid)][3] >= by[("ivf_nprobe1", qid)][3]


def test_star_edges_equal_clique_pairs_for_clusters(spark, docs):
    """minhash_star_edges (per-bucket star on the bucket-min doc)
    must give dedup_clusters output identical to the all-pairs clique
    expansion — a clique and a star on any of its members have the
    same connected components."""
    from gluon_ocr_spark.operators.dedup import (
        dedup_clusters,
        minhash_candidate_pairs,
        minhash_star_edges,
    )

    # pin the subset: LIMIT without ORDER BY may pick different rows
    # per job execution, and star/clique run as independent jobs
    small = docs.orderBy("doc_id").limit(200).cache()
    via_star = dedup_clusters(small, minhash_star_edges(small))
    via_clique = dedup_clusters(small, minhash_candidate_pairs(small))
    assert via_star.exceptAll(via_clique).count() == 0
    assert via_clique.exceptAll(via_star).count() == 0
    # star edge set is never larger than the band-row count
    assert minhash_star_edges(small).count() <= small.count() * 4


def test_lm_surprisal_conditions_on_context(spark):
    """text_lm_surprisal is a CONDITIONAL score: a word that always
    follows the same context is cheap even if globally rare, while a
    common word in an alien context is expensive."""
    from pyspark.sql import Row

    from gluon_ocr_spark.queries import sql_text_lm_surprisal

    # "zyx" is rare (appears 3x) but ALWAYS follows "the" -> p(zyx|the)
    # is high among "the ?" bigrams only if "the" rarely precedes
    # anything else; here "the" precedes cat 12x and zyx 3x.
    rows = [Row(doc_id=i, text="the cat sat on the mat " * 2) for i in range(6)]
    rows.append(Row(doc_id=100, text="the zyx the zyx the zyx"))  # rare-but-consistent
    rows.append(Row(doc_id=101, text="mat the on sat cat the"))  # common words, alien order
    spark.createDataFrame(rows).createOrReplaceTempView("documents")
    try:
        out = {
            r.doc_id: r.mean_milli_surprisal
            for r in spark.sql(sql_text_lm_surprisal("spark")).collect()
        }
    finally:
        spark.catalog.dropTempView("documents")
    # boilerplate docs: every bigram is the modal continuation -> low
    assert out[0] < out[101]
    # alien-order doc scores strictly above the boilerplate docs
    assert out[101] > out[0]
    # integer surprisal is non-negative by construction (c(w1) >= c(w1,w2))
    assert all(v >= 0 for v in out.values())


def test_unimax_waterfilling_closed_form(spark):
    """corpus_mix_unimax: hand-computed waterfill — budget 90% of
    total, one-epoch caps; tail langs cap out, the head splits the
    leftover; allocations sum to the budget bit-for-bit."""
    from pyspark.sql import Row

    from gluon_ocr_spark.queries import sql_corpus_mix_unimax

    # lang token counts: aa=10, bb=20, cc=100 -> total 130, budget 117
    # ascending caps: aa(10): 10*3=30 <= 117 -> capped
    # bb(20): 20*2=40 <= 107 -> capped ; cc: 100 > 87 -> uncapped, gets 87
    rows = []
    did = 0
    for lang, n_tok in (("aa", 10), ("bb", 20), ("cc", 100)):
        for chunk in range(n_tok // 10):
            rows.append(Row(doc_id=did, lang=lang, text=" ".join(f"w{i}" for i in range(10))))
            did += 1
    spark.createDataFrame(rows).createOrReplaceTempView("documents")
    try:
        got = {
            r.lang: (r.capped, r.alloc_tokens)
            for r in spark.sql(sql_corpus_mix_unimax("spark")).collect()
        }
    finally:
        spark.catalog.dropTempView("documents")
    assert got == {"aa": (1, 10), "bb": (1, 20), "cc": (0, 87)}


def test_threshold_sweep_monotone(spark, sf_dir):
    """dedup_threshold_sweep: verified pairs and affected docs are
    non-increasing in the threshold; candidates are constant."""
    from gluon_ocr_spark.queries import register_views, sql_dedup_threshold_sweep

    register_views(spark, sf_dir)
    rows = sorted(
        spark.sql(sql_dedup_threshold_sweep("spark")).collect(),
        key=lambda r: r.thresh_pct,
    )
    assert [r.thresh_pct for r in rows] == [70, 80, 90]
    assert len({r.n_candidate_pairs for r in rows}) == 1
    assert rows[0].n_verified_pairs >= rows[1].n_verified_pairs >= rows[2].n_verified_pairs
    assert rows[0].n_docs_affected >= rows[1].n_docs_affected >= rows[2].n_docs_affected
    for r in rows:
        assert r.n_verified_pairs <= r.n_candidate_pairs


def test_anomaly_mad_flags_planted_spike(spark):
    """events_anomaly_mad: a 20x volume spike on an otherwise-steady
    daily series is flagged; steady days are not."""
    import datetime as dt

    from pyspark.sql import Row

    from gluon_ocr_spark.queries import sql_events_anomaly_mad

    rows = []
    base = dt.datetime(2024, 5, 1)
    for day in range(14):
        n = 200 if day == 7 else 10 + (day % 3)  # spike on day 7
        for i in range(n):
            rows.append(Row(ts=base + dt.timedelta(days=day, seconds=i), event_type="click"))
    spark.createDataFrame(rows).createOrReplaceTempView("events")
    try:
        out = {r.day.isoformat(): r for r in spark.sql(sql_events_anomaly_mad("spark")).collect()}
    finally:
        spark.catalog.dropTempView("events")
    assert out["2024-05-08"].is_anomaly == 1
    steady = [r for k, r in out.items() if k != "2024-05-08"]
    assert all(r.is_anomaly == 0 for r in steady)
    assert all(r.mad_n >= 0 and r.med_n > 0 for r in out.values())
