"""Training-pipeline operator tests: dedup (exact / minhash / simhash),
similarity search (brute force + LSH recall), text analysis, multimodal
plumbing — all over the driver testdata documents/embeddings tables."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from presto_bloomfilter_spark.operators import dedup, multimodal, similarity, text
from presto_bloomfilter_spark.plans.queries import _aug_documents
from presto_bloomfilter_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


@pytest.fixture(scope="module")
def aug(spark, sf_dir):
    return _aug_documents(spark, sf_dir).cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


# ---- dedup -------------------------------------------------------------------


def test_exact_dup_groups(spark, aug, docs):
    n_dups = docs.filter(F.col("doc_id") % 10 == 0).count()
    groups = dedup.exact_dup_groups(aug, "text", "id").collect()
    assert len(groups) == n_dups
    assert all(g.dup_cnt == 2 for g in groups)


def test_drop_exact_dups(spark, aug):
    kept = dedup.drop_exact_dups(aug, "text", "id")
    assert kept.count() == aug.select("text").distinct().count()
    # deterministic representative: numeric id sorts before 'dup-...'
    sample = kept.filter(F.col("id").startswith("dup-")).count()
    assert sample == 0


def test_minhash_pairs_match_construction(spark, aug, docs):
    """Constructed dup/near pairs must all be found; every returned pair
    must truly exceed the threshold (verified pipeline = no FPs); and on
    a subset, the result equals exact brute force."""
    pairs = {(r.id_a, r.id_b) for r in dedup.minhash_near_dup_pairs(aug, "text", "id", 0.5).collect()}
    for r in docs.select("doc_id").collect():
        i = r.doc_id
        if i % 10 == 0:
            assert (str(i), f"dup-{i}") in pairs
        if i % 7 == 0:
            assert (str(i), f"near-{i}") in pairs
        if i % 70 == 0:
            assert (f"dup-{i}", f"near-{i}") in pairs

    # brute-force cross-check restricted to a subset of ids
    texts = {r.id: r.text for r in aug.collect()}
    subset = {i for i in texts if i.replace("dup-", "").replace("near-", "").isdigit()
              and int(i.replace("dup-", "").replace("near-", "")) < 120}
    sh = {i: dedup._shingle_hashes(texts[i]) for i in subset}
    expected = set()
    ids = sorted(subset)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            if dedup._jaccard(texts[ids[x]], texts[ids[y]]) >= 0.5:
                expected.add((ids[x], ids[y]))
    got_subset = {(a, b) for a, b in pairs if a in subset and b in subset}
    assert got_subset == expected


def test_simhash_finds_exact_dups(spark, aug, docs):
    pairs = {(r.id_a, r.id_b) for r in dedup.simhash_near_dup_pairs(aug, "text", "id").collect()}
    for r in docs.filter(F.col("doc_id") % 10 == 0).select("doc_id").collect():
        assert (str(r.doc_id), f"dup-{r.doc_id}") in pairs


# ---- similarity --------------------------------------------------------------


def _np_topk(emb_rows, queries, k=10):
    ids = np.array([r.vec_id for r in emb_rows])
    mat = np.stack([np.array(r.embedding, dtype=np.float64) for r in emb_rows])
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    out = {}
    for qid, qv in queries:
        q = np.array(qv, dtype=np.float64)
        q = q / np.linalg.norm(q)
        sims = mat @ q
        sims[ids == qid] = -np.inf
        order = np.lexsort((ids, -sims))[:k]
        out[qid] = [int(ids[i]) for i in order]
    return out


def test_cosine_topk_matches_numpy(spark, emb):
    rows = emb.collect()
    queries = [(r.vec_id, list(r.embedding)) for r in rows[:5]]
    got = similarity.cosine_topk(spark, emb, queries, k=10).collect()
    expected = _np_topk(rows, queries, 10)
    by_q = {}
    for r in sorted(got, key=lambda r: (r.query_id, r.rank)):
        by_q.setdefault(r.query_id, []).append(r.neighbor_id)
    assert by_q == expected


def test_lsh_topk_recall(spark, emb):
    rows = emb.collect()
    queries = [(r.vec_id, list(r.embedding)) for r in rows[:5]]
    exact = _np_topk(rows, queries, 10)
    approx = similarity.lsh_topk(spark, emb, queries, k=10, bits=4, probe_radius=1).collect()
    by_q = {}
    for r in approx:
        by_q.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [len(by_q.get(q, set()) & set(exact[q])) / 10 for q in exact]
    # multi-probe 4-bit LSH on 64-dim *random* vectors (near-orthogonal,
    # the hardest case): recall must be far above random (10/500 = 2%)
    assert np.mean(recalls) >= 0.3, recalls


def _np_semantic_dedup(emb_rows, cent, threshold):
    """Reference: assign by cosine argmax, drop iff a smaller-id
    cluster-mate is >= threshold."""
    ids = np.array([r.vec_id for r in emb_rows])
    order = np.argsort(ids)
    ids = ids[order]
    mat = np.stack([np.array(emb_rows[i].embedding, np.float64)
                    for i in order])
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    cl = np.argmax(mat @ cent.T, axis=1)
    kept = {}
    for i in range(len(ids)):
        same = (cl == cl[i]) & (ids < ids[i])
        kept[int(ids[i])] = not bool((mat[same] @ mat[i] >= threshold).any())
    return kept, {int(v): int(c) for v, c in zip(ids, cl)}


def test_semantic_dedup_first_seed_matches_numpy(spark, emb):
    rows = emb.collect()
    seed_rows = sorted(rows, key=lambda r: r.vec_id)[:6]
    cent = np.stack([np.array(r.embedding, np.float64) for r in seed_rows])
    cent = cent / np.linalg.norm(cent, axis=1, keepdims=True)
    want_kept, want_cl = _np_semantic_dedup(rows, cent, 0.4)
    got = similarity.semantic_dedup(
        spark, emb, threshold=0.4, n_clusters=6, seed_strategy="first",
        chunk_rows=37,  # force the chunked path
    ).collect()
    assert len(got) == len(rows)
    for r in got:
        assert r.kept == want_kept[r.vec_id], r
        assert r.cluster_id == want_cl[r.vec_id], r


def test_semantic_dedup_kmeans_path_and_guards(spark, emb):
    out = similarity.semantic_dedup(spark, emb, threshold=0.4,
                                    n_clusters=5, seed_strategy="kmeans")
    rows = out.collect()
    assert len(rows) == emb.count()
    assert {r.cluster_id for r in rows} <= set(range(5))
    # a duplicate row of vec 0 must be dropped while vec 0 survives
    import pyspark.sql.functions as _F
    dup = emb.filter("vec_id = 0").withColumn("vec_id", _F.lit(999_999))
    out2 = {r.vec_id: r.kept
            for r in similarity.semantic_dedup(
                spark, emb.unionByName(dup), threshold=0.99,
                n_clusters=4, seed_strategy="first").collect()}
    assert out2[0] is True and out2[999_999] is False
    with pytest.raises(ValueError, match="seed_strategy"):
        similarity.semantic_dedup(spark, emb, 0.4, seed_strategy="nope")
    with pytest.raises(Exception, match="max_cluster_rows"):
        similarity.semantic_dedup(spark, emb, 0.4, n_clusters=1,
                                  seed_strategy="first",
                                  max_cluster_rows=10).collect()


def test_lsh_buckets_shape(spark, emb):
    b = similarity.hyperplane_lsh_buckets(emb, bits=6)
    assert b.count() == emb.count()
    n_buckets = b.select("bucket").distinct().count()
    assert 2 <= n_buckets <= 64


# ---- text --------------------------------------------------------------------


def test_text_quality_values(spark, docs):
    out = {r.id: r for r in text.text_quality(docs, "text", "doc_id").collect()}
    sample = docs.limit(20).collect()
    for r in sample:
        words = r.text.split()
        m = out[str(r.doc_id)]
        assert m.n_words == len(words)
        stops = sum(w in text.STOPWORDS for w in words)
        assert abs(m.stopword_ratio - stops / len(words)) < 1e-12


def test_token_count(spark, docs):
    out = {r.id: r.n_tokens for r in text.token_count(docs, "text", "doc_id").collect()}
    for r in docs.limit(20).collect():
        assert out[str(r.doc_id)] == len(r.text.split())


def test_lang_id_deterministic_and_total(spark, docs):
    a = {(r.id, r.pred_lang) for r in text.lang_id(docs, "text", "doc_id").collect()}
    b = {(r.id, r.pred_lang) for r in text.lang_id(docs.repartition(7), "text", "doc_id").collect()}
    assert a == b and len(a) == docs.count()


def test_fingerprint_stability_and_near_dup_overlap(spark, aug):
    fp = {r.id: set(r.fingerprint) for r in text.fingerprint(aug, "text", "id").collect()}
    # a 90%-truncated doc shares most fingerprints with its original
    near_ids = [i for i in fp if i.startswith("near-")]
    assert near_ids
    sims = []
    for nid in near_ids[:20]:
        orig = nid[len("near-"):]
        inter = len(fp[nid] & fp[orig])
        union = len(fp[nid] | fp[orig])
        sims.append(inter / union)
    assert np.mean(sims) >= 0.5


# ---- multimodal --------------------------------------------------------------


def test_multimodal_metadata(spark, docs):
    media = multimodal.attach_media(docs, "text", "doc_id")
    meta = {r.id: r for r in multimodal.extract_metadata(media).collect()}
    for r in docs.limit(20).collect():
        m = meta[str(r.doc_id)]
        raw = r.text.encode()
        assert m.n_bytes == len(raw)
        assert m.first_byte == raw[0]
        assert m.fake_width == len(raw) % 640 + 1


def test_frame_sample_fanout(spark, docs):
    media = multimodal.attach_media(docs.limit(10), "text", "doc_id")
    frames = multimodal.frame_sample(media, every_n_bytes=50)
    pdf = frames.toPandas()
    assert len(pdf) > 10  # fan-out: more frames than docs
    assert (pdf.groupby("id").frame_off.min() == 0).all()


def test_ivf_topk_recall(spark, emb):
    import numpy as np

    from presto_bloomfilter_spark.operators import similarity

    rows = emb.orderBy("vec_id").limit(5).collect()
    queries = [(r.vec_id, list(r.embedding)) for r in rows]
    exact = {}
    for r in similarity.cosine_topk(spark, emb, queries, k=10).collect():
        exact.setdefault(r.query_id, []).append(r.neighbor_id)
    approx = similarity.ivf_topk(spark, emb, queries, k=10, n_lists=8, nprobe=3).collect()
    by_q = {}
    for r in approx:
        by_q.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [len(by_q.get(q, set()) & set(v)) / 10 for q, v in exact.items()]
    # probing 3/8 lists: recall must be far above the 3/8 random floor
    assert np.mean(recalls) >= 0.5, recalls


def test_ivf_assign_is_deterministic_partitioning(spark, emb):
    from presto_bloomfilter_spark.operators import similarity
    import numpy as np

    sample = np.array([r.embedding for r in emb.limit(512).collect()], dtype=np.float64)
    cent = similarity.spherical_kmeans(sample, 8, seed=7)
    a1 = {r.id: r.list_id for r in similarity.ivf_assign(emb, cent).collect()}
    a2 = {r.id: r.list_id for r in similarity.ivf_assign(emb.repartition(7), cent).collect()}
    assert a1 == a2
    assert set(a1.values()) <= set(range(8))


def test_multimodal_resize_and_feature_stubs(spark, sf_dir):
    from presto_bloomfilter_spark.operators import multimodal, similarity
    from presto_bloomfilter_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(50)
    media = multimodal.attach_media(docs, "text")
    rs = multimodal.resize_stub(media, 64, 64).collect()
    assert len(rs) == 50
    assert all(len(r.resized) == 64 * 64 // 64 for r in rs)
    assert all(r.width == 64 for r in rs)
    # deterministic across partitionings
    rs2 = multimodal.resize_stub(media.repartition(7), 64, 64).collect()
    assert {r.id: r.resized for r in rs} == {r.id: r.resized for r in rs2}

    feats = multimodal.feature_stub(media, dim=8)
    rows = feats.collect()
    assert all(len(r.feature) == 8 for r in rows)
    # features feed the similarity operators end-to-end
    emb = feats.select(F.monotonically_increasing_id().alias("vec_id"),
                       F.col("feature").alias("embedding")).cache()
    q = [(r.vec_id, list(r.embedding)) for r in emb.limit(2).collect()]
    top = similarity.cosine_topk(spark, emb, q, k=3).collect()
    assert len(top) == 6


# ---- exact blocked near-dup + single-job ANN ---------------------------------


def _np_near_dup_pairs(rows, threshold=0.4):
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    mat = np.stack([np.array(r.embedding, dtype=np.float64) for r in rows])
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    ia, ib = np.nonzero((sims >= threshold) & (ids[:, None] < ids[None, :]))
    return {(int(ids[i]), int(ids[j])) for i, j in zip(ia, ib)}


def test_embedding_near_dup_blocked_matches_bruteforce(spark, emb):
    expected = _np_near_dup_pairs(emb.collect(), 0.4)
    # forced multi-block plan: the exact block-pair join must partition
    # the O(n^2) work without losing or duplicating any pair
    got = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_near_dup_pairs(spark, emb, 0.4, n_blocks=3).collect()
    }
    assert got == expected
    # default (auto n_blocks) takes the same distributed path
    got_auto = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_near_dup_pairs(spark, emb, 0.4).collect()
    }
    assert got_auto == expected


def test_embedding_near_dup_lsh_subset_with_recall(spark, emb):
    exact = _np_near_dup_pairs(emb.collect(), 0.4)
    got = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_near_dup_pairs_lsh(
            spark, emb, 0.4, bits=4, n_tables=8
        ).collect()
    }
    # exact verify => no false positives; banding => measured recall
    assert got <= exact
    if exact:
        assert len(got) / len(exact) >= 0.5, (len(got), len(exact))


def test_ann_runs_as_single_job_plan(spark, emb):
    queries = [(r.vec_id, list(r.embedding)) for r in emb.orderBy("vec_id").limit(5).collect()]
    for df in (
        similarity.ivf_topk(spark, emb, queries, k=10, n_lists=8, nprobe=3),
        similarity.lsh_topk(spark, emb, queries, k=10, bits=6),
    ):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        # the per-query driver loop unioned Q subplans; the fused path
        # must be ONE scan -> mapInPandas -> window, no Union
        assert "Union" not in plan
        assert plan.count("MapInPandas") == 1


def test_multimodal_real_decode(spark):
    """Real decode/resize runs regardless of Pillow: PIL when installed,
    the stdlib baseline-PNG codec otherwise.  End-to-end through the
    Arrow-batched Spark dataflow: encode a known image -> metadata ->
    resize -> decode the resized payload and check actual pixels."""
    from presto_bloomfilter_spark.functions import png_codec as pc
    from presto_bloomfilter_spark.operators import multimodal

    rng = np.random.default_rng(7)
    imgs = {f"img-{i}": rng.integers(0, 256, size=(16 + i, 24 + i, 3), dtype=np.uint8)
            for i in range(4)}
    mdf = spark.createDataFrame(
        [(k, bytearray(pc.png_encode(v)), "image/png") for k, v in imgs.items()],
        "id string, media binary, media_type string",
    )

    meta = {r.id: r for r in multimodal.extract_metadata_image(mdf).collect()}
    for k, v in imgs.items():
        assert (meta[k].width, meta[k].height, meta[k].mode) == (v.shape[1], v.shape[0], "RGB")

    rs = {r.id: r for r in multimodal.resize_image(mdf, 8, 6).collect()}
    for k, v in imgs.items():
        assert (rs[k].width, rs[k].height) == (8, 6)
        out = pc.png_decode(bytes(rs[k].resized))
        assert out.shape == (6, 8, 3)
        if multimodal._pil() is None:
            # codec path is exact nearest-neighbor — check pixel values
            np.testing.assert_array_equal(out, pc.resize_nearest(v, 8, 6))


def test_multimodal_non_image_payload_fails_loud(spark, sf_dir):
    """Without PIL, non-PNG payloads must raise (no silent fake decode)."""
    from presto_bloomfilter_spark.operators import multimodal

    if multimodal._pil() is not None:  # pragma: no cover
        pytest.skip("PIL present: it may decode other formats")
    docs = load_table(spark, sf_dir, "documents").limit(3)
    media = multimodal.attach_media(docs, "text")  # utf-8 text, not a PNG
    with pytest.raises(Exception, match="not a baseline PNG"):
        multimodal.extract_metadata_image(media).collect()
    with pytest.raises(Exception, match="not a baseline PNG"):
        multimodal.resize_image(media).collect()


def test_ivf_indexed_probe_partition_prunes(spark, emb, tmp_path):
    """The materialized IVF index is partitioned by list_id; a probe
    must (a) show list_id partition pruning at the scan and (b) return
    exactly what the on-the-fly ivf_topk returns (same assignment rule,
    same centroids)."""
    sample = np.array([r.embedding for r in emb.orderBy("vec_id").limit(512).collect()],
                      dtype=np.float64)
    cent = similarity.spherical_kmeans(sample, 8, seed=7)
    path = str(tmp_path / "ivf_index")
    similarity.write_ivf_index(emb, cent, path)

    queries = [(r.vec_id, list(r.embedding)) for r in emb.orderBy("vec_id").limit(3).collect()]
    res = similarity.ivf_topk_indexed(spark, path, queries, cent, k=10, nprobe=3)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "list_id" in plan

    got = {(r.query_id, r.neighbor_id, r.rank) for r in res.collect()}
    # parity with the fused on-the-fly path under identical centroids
    direct = similarity._fused_ann_topk(
        spark, emb, [
            (int(q[0]),
             v,
             p.astype(np.int64))
            for (q, v, p) in zip(
                queries,
                similarity._normalize(np.array([q[1] for q in queries], dtype=np.float64)),
                np.argsort(-(similarity._normalize(
                    np.array([q[1] for q in queries], dtype=np.float64)) @ cent.T),
                    axis=1)[:, :3],
            )
        ],
        lambda m: np.argmax(m @ cent.T, axis=1).astype(np.int64),
        10, "embedding", "vec_id",
    )
    expect = {(r.query_id, r.neighbor_id, r.rank) for r in direct.collect()}
    assert got == expect


def test_ngram_jaccard_exact_matches_minhash_verified(spark, aug):
    """The exact Catalyst set-similarity join and the MinHash+LSH+verify
    pipeline define the same pair set at this threshold (LSH candidate
    recall ~1 at sim >= 0.5 with these band settings), and the exact
    plan must stay entirely JVM-side (no Python eval nodes)."""
    exact_df = dedup.ngram_jaccard_pairs(aug, "text", "id", threshold=0.5)
    plan = exact_df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "MapInPandas" not in plan
    exact = {(r.id_a, r.id_b) for r in exact_df.collect()}
    mh = {(r.id_a, r.id_b)
          for r in dedup.minhash_near_dup_pairs(aug, "text", "id", 0.5).collect()}
    assert exact == mh


def test_ngram_jaccard_whitespace_runs(spark):
    """Word definition must match str.split() (whitespace runs): texts
    with tabs/doubled spaces agree between the Catalyst exact join and
    the hash-shingle verify path."""
    rows = [
        ("a", "the quick\tbrown  fox jumps over"),
        ("b", "the quick brown fox jumps over"),
        ("c", "completely different words entirely here now"),
    ]
    df = spark.createDataFrame(rows, "id string, text string")
    exact = {(r.id_a, r.id_b, round(r.jaccard, 9))
             for r in dedup.ngram_jaccard_pairs(df, "text", "id", threshold=0.1).collect()}
    # a and b are identical after whitespace normalization -> jaccard 1.0
    assert ("a", "b", 1.0) in exact
    assert all(p[:2] == ("a", "b") for p in exact)


def test_pair_jaccard_batch_matches_scalar():
    """The segmented batch verify kernel equals the per-pair scalar
    Jaccard on random texts, including empty/identical edge cases."""
    import pandas as pd

    rng = np.random.default_rng(7)
    vocab = [f"w{i}" for i in range(40)]
    texts = [" ".join(rng.choice(vocab, size=int(rng.integers(0, 30))))
             for _ in range(30)]
    texts += ["", "", texts[0]]  # empty-empty, empty-nonempty, identical
    flat, offsets = dedup._shingle_sets_batch(pd.Series(texts, dtype=object))
    ia = rng.integers(0, len(texts), size=200)
    ib = rng.integers(0, len(texts), size=200)
    ia = np.concatenate([ia, [30, 30, 0]])
    ib = np.concatenate([ib, [31, 0, 32]])
    got = dedup._pair_jaccard_batch(flat, offsets, ia, ib)
    for r in range(len(ia)):
        expected = dedup._jaccard(texts[ia[r]], texts[ib[r]])
        assert got[r] == pytest.approx(expected), (r, texts[ia[r]], texts[ib[r]])


def test_simhash_degenerate_cluster_capped(spark):
    """10k identical short docs: without the bucket cap the band
    self-join materializes ~10^8 rows; with the star fallback the query
    completes fast AND the giant duplicate cluster still surfaces whole
    (code-review finding: dropping oversize buckets emitted ZERO pairs
    for exactly the clusters dedup exists to find)."""
    big = spark.range(0, 10_000).selectExpr(
        "cast(id as string) as id", "'the same short template text' as text")
    out = dedup.simhash_near_dup_pairs(big, "text", "id")
    import time
    t0 = time.time()
    rows = out.collect()
    assert time.time() - t0 < 60  # capped fan-out: linear, not ~10^8
    # star + chain pairing: every copy pairs with the min-id
    # representative and with its sort-neighbor, both at Hamming 0, so
    # connected components recovers ONE 10k cluster from O(n) edges
    assert 10_000 - 1 <= len(rows) <= 2 * (10_000 - 1)
    assert all(r.hamming == 0 for r in rows)
    comp = dedup.components_from_pairs(out)
    assert comp.select("component").distinct().count() == 1
    assert comp.count() == 10_000


def test_embedding_near_dup_builds_lazily_with_estimate(spark):
    """With approx_rows (or n_blocks) given, constructing the
    block-pair plan launches ZERO jobs — the caller's estimate replaces
    the bounding count.  A poisoned input raises on any action, so lazy
    construction succeeding proves no hidden job.  WITHOUT an estimate
    the default deliberately runs one df.count() so the per-task block
    size stays bounded by block_rows (the r02 parallelism-only default
    silently dropped that memory bound)."""
    import pyspark.sql.types as T

    emb = spark.range(0, 8).selectExpr(
        "id as vec_id", "array(cast(id as float), 1.0f) as embedding")

    def boom(it):
        raise RuntimeError("action ran during plan construction")
        yield  # pragma: no cover

    poisoned = emb.mapInPandas(
        boom, T.StructType.fromDDL("vec_id long, embedding array<float>"))
    res = similarity.embedding_near_dup_pairs(
        spark, poisoned, 0.4, approx_rows=8)  # no raise: zero-job path
    with pytest.raises(Exception, match="action ran"):
        res.count()
    # no estimate -> the bounding count runs eagerly and hits the poison
    with pytest.raises(Exception, match="action ran"):
        similarity.embedding_near_dup_pairs(spark, poisoned, 0.4)
    # and the row term really drives n_blocks: tiny block_rows forces
    # more blocks than the parallelism floor would pick
    many = similarity.embedding_near_dup_pairs(
        spark, emb, 0.4, block_rows=2, approx_rows=8)
    assert many.count() >= 0  # plan executes with rows/block_rows=4+ blocks


def test_fingerprint_segmented_kernel_matches_per_doc(spark):
    """The one-pass segmented winnowing (flat sliding-window min +
    boundary mask) equals the per-doc reference loop on random docs,
    including docs shorter than k words and shorter than one window."""
    rng = np.random.default_rng(11)
    vocab = [f"w{i}" for i in range(25)]
    texts = [" ".join(rng.choice(vocab, size=int(rng.integers(1, 40))))
             for _ in range(60)]
    df = spark.createDataFrame([(str(i), t) for i, t in enumerate(texts)], "id string, text string")
    got = {r.id: sorted(r.fingerprint) for r in text.fingerprint(df, "text", "id").collect()}

    import pandas as pd
    k, window = 5, 8
    g, gdoc, ndocs = dedup._gram_stream_batch(pd.Series(texts, dtype=object), k)
    offsets = np.concatenate(([0], np.cumsum(np.bincount(gdoc, minlength=ndocs))))
    for i in range(ndocs):
        h = g[offsets[i]:offsets[i + 1]]
        if len(h) <= window:
            sel = np.unique(h.min(keepdims=True))
        else:
            sel = np.unique(
                np.lib.stride_tricks.sliding_window_view(h, window).min(axis=1))
        assert got[str(i)] == sorted(sel.view(np.int64).tolist()), i


def test_lsh_indexed_probe_partition_prunes(spark, emb, tmp_path):
    """The materialized LSH index is partitioned by bucket; a probe must
    (a) show bucket partition pruning at the scan and (b) return exactly
    what the on-the-fly lsh_topk returns (shared probe-set construction,
    same hyperplanes)."""
    path = str(tmp_path / "lsh_index")
    similarity.write_lsh_index(emb, path, bits=6, seed=7)

    queries = [(r.vec_id, list(r.embedding)) for r in emb.orderBy("vec_id").limit(3).collect()]
    res = similarity.lsh_topk_indexed(spark, path, queries, k=10, bits=6, seed=7,
                                      probe_radius=1)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan

    got = {(r.query_id, r.neighbor_id, r.rank) for r in res.collect()}
    direct = similarity.lsh_topk(spark, emb, queries, k=10, bits=6, seed=7,
                                 probe_radius=1)
    expect = {(r.query_id, r.neighbor_id, r.rank) for r in direct.collect()}
    assert got == expect and len(got) > 0


def test_adaptive_ann_params_track_corpus_size():
    """Geometry derives from data (the reference's bloom_filter(el,n,p)
    posture): bucket occupancy stays near target as n grows; IVF lists
    track sqrt(n); both clamp at tiny and huge n."""
    from presto_bloomfilter_spark.operators.similarity import (
        adaptive_ivf_params, adaptive_lsh_params)

    assert adaptive_lsh_params(500) == (3, 2)
    assert adaptive_lsh_params(2_000) == (5, 2)
    b1, _ = adaptive_lsh_params(10_000_000)
    assert 16 <= b1 <= 18  # log2(1e7/64) ≈ 17.3
    assert adaptive_lsh_params(1)[0] == 1          # tiny clamp
    assert adaptive_lsh_params(10**12)[0] == 24    # huge clamp
    assert adaptive_ivf_params(500) == (22, 14)    # √500≈22, ceil(.6*22)
    assert adaptive_ivf_params(2_000) == (45, 27)
    assert adaptive_ivf_params(1) == (4, 3)        # floor
    assert adaptive_ivf_params(10**9)[0] == 4096   # cap


def test_index_meta_sidecar_roundtrip(spark, emb, tmp_path):
    """write_*_index records its chosen geometry in a _pbs_meta sidecar
    (invisible to the parquet scan); parameterless probes read it back
    and return exactly what a fully-specified probe returns."""
    from presto_bloomfilter_spark.operators.similarity import read_index_meta

    lpath = str(tmp_path / "lsh_auto")
    similarity.write_lsh_index(emb, lpath, seed=7)  # bits data-derived
    meta = read_index_meta(spark, lpath)
    n = emb.count()
    assert meta["kind"] == "lsh" and meta["seed"] == 7
    assert meta["bits"] == similarity.adaptive_lsh_params(n)[0]
    queries = [(r.vec_id, list(r.embedding)) for r in emb.orderBy("vec_id").limit(3).collect()]
    auto = similarity.lsh_topk_indexed(spark, lpath, queries, k=5)
    full = similarity.lsh_topk_indexed(spark, lpath, queries, k=5,
                                       bits=meta["bits"], seed=7, probe_radius=2)
    assert {tuple(r) for r in auto.collect()} == {tuple(r) for r in full.collect()}

    ipath = str(tmp_path / "ivf_auto")
    sample = np.array([r.embedding for r in emb.orderBy("vec_id").limit(512).collect()],
                      dtype=np.float64)
    cent = similarity.spherical_kmeans(sample, 8, seed=7)
    similarity.write_ivf_index(emb, cent, ipath)
    imeta = read_index_meta(spark, ipath)
    assert imeta["kind"] == "ivf" and imeta["n_lists"] == 8
    np.testing.assert_allclose(np.asarray(imeta["centroids"]), cent, rtol=1e-6)
    auto_i = similarity.ivf_topk_indexed(spark, ipath, queries, k=5)  # centroids+nprobe from sidecar
    full_i = similarity.ivf_topk_indexed(spark, ipath, queries, cent, k=5, nprobe=5)
    assert {tuple(r) for r in auto_i.collect()} == {tuple(r) for r in full_i.collect()}


# ---- product quantization ---------------------------------------------------


def test_pq_codebook_roundtrip_and_validation():
    cb = similarity.PQCodebook(np.arange(4 * 8 * 2, dtype=np.float32).reshape(4, 8, 2))
    rt = similarity.PQCodebook.from_bytes(cb.to_bytes())
    np.testing.assert_array_equal(rt.centroids, cb.centroids)
    assert (rt.m, rt.ksub, rt.dim) == (4, 8, 8)
    with pytest.raises(ValueError, match="blob"):
        similarity.PQCodebook.from_bytes(b"junk")
    with pytest.raises(ValueError, match="uint8"):
        similarity.PQCodebook(np.zeros((2, 300, 4), np.float32))


def test_pq_encode_shapes_and_determinism(spark):
    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    cb = similarity.pq_train(emb, m=8, ksub=16, sample_rows=200, seed=3)
    assert cb.centroids.shape == (8, 16, 8)
    codes = similarity.pq_encode(emb, cb).collect()
    assert all(len(bytes(r.codes)) == 8 for r in codes)
    again = {r.id: bytes(r.codes) for r in similarity.pq_encode(emb, cb).collect()}
    assert {r.id: bytes(r.codes) for r in codes} == again  # deterministic


def test_pq_topk_rerank_recall(spark):
    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    queries = [(r.vec_id, list(r.embedding))
               for r in emb.orderBy("vec_id").limit(3).collect()]
    exact = similarity.cosine_topk(spark, emb, queries, k=10)
    exact_sets = {}
    for r in exact.collect():
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    cb = similarity.pq_train(emb, m=16, ksub=256, sample_rows=2_000, seed=7)
    codes = similarity.pq_encode(emb, cb)
    approx = similarity.pq_topk(spark, codes, cb, queries, k=10,
                                rerank_with=emb, shortlist_factor=5)
    got = {}
    for r in approx.collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    for q, _ in queries:
        assert len(got[q] & exact_sets[q]) / 10 >= 0.6, q
    # shortlist path returns exactly k ranked rows per query
    assert all(len(v) == 10 for v in got.values())


def test_pq_topk_dim_mismatch_raises(spark):
    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    cb = similarity.pq_train(emb, m=8, ksub=16, sample_rows=100)
    codes = similarity.pq_encode(emb, cb)
    with pytest.raises(ValueError, match="dim"):
        similarity.pq_topk(spark, codes, cb, [(0, [1.0, 2.0])], k=5)


def test_ivfpq_indexed_probe_prunes_and_recalls(spark, emb, tmp_path):
    """IVF-PQ materialized index: probe reads only nprobe partitions
    (PartitionFilters in the plan) and recall@10 with re-rank >= 0.6."""
    rows = emb.orderBy("vec_id").limit(500).collect()
    mat = np.stack([np.array(r.embedding, dtype=np.float64) for r in rows])
    cents = similarity.spherical_kmeans(mat, n_lists=8, seed=7)
    cb = similarity.pq_train(emb, m=16, ksub=256, sample_rows=2_000, seed=7)
    path = str(tmp_path / "ivfpq")
    similarity.write_ivfpq_index(emb, cents, cb, path)

    queries = [(r.vec_id, list(r.embedding)) for r in rows[:3]]
    approx = similarity.ivfpq_topk(spark, path, cents, cb, queries, k=10,
                                   nprobe=5, rerank_with=emb)
    exact = _np_topk(rows, queries, 10)
    got = {}
    for r in approx.collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    for q, _ in queries:
        assert len(got[q] & set(exact[q])) / 10 >= 0.6, q
    # partition pruning: the pruned scan must carry list_id filters
    pruned = spark.read.parquet(path).filter(F.col("list_id").isin([0, 1]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "list_id" in plan
    # index stores codes only — no float vectors on disk
    assert "embedding" not in spark.read.parquet(path).columns


def test_capped_bucket_mixed_dups_stay_connected(spark):
    """Recall bug found by the sf0.1 gate run: in a MIXED oversize
    bucket (coincidental band collisions), star pairing alone connects
    members only through the min-id rep — a genuine dup pair far from
    the rep loses both star edges to the Hamming verify and vanishes.
    Chain pairing over the (payload, id) sort must keep every
    equal-signature run connected."""
    from pyspark.sql import functions as F

    # one band bucket of 200 rows: ids 0..199, signatures all distinct
    # EXCEPT ids 150/151 which are identical; cap far below 200
    rows = [(i, 0, 0, (1 << 40) + i * 1000) for i in range(200)]
    rows[151] = (151, 0, 0, (1 << 40) + 150 * 1000)  # dup of id 150
    bands = spark.createDataFrame(
        rows, "id long, band int, band_val int, simhash long")
    pairs = dedup._banded_pairs_with_cap(
        bands, ["band", "band_val"], max_bucket=64, payload=("simhash",))
    verified = pairs.filter(
        F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))) == 0)
    got = {(r.id_a, r.id_b) for r in verified.collect()}
    assert (150, 151) in got  # chain edge; star would have lost it


def test_minhash_capped_mixed_bucket_keeps_exact_dups(spark):
    """The minhash sibling of the simhash mixed-bucket fix: equal
    shingle sets share sig_key, so the chain keeps them adjacent even
    when the whole bucket is capped and the min-id rep is unrelated."""
    rows = [(i, 0, 7, 1000 + i) for i in range(200)]  # one big bucket
    rows[151] = (151, 0, 7, 1000 + 150)  # same full signature as 150
    idx = spark.createDataFrame(
        rows, "id long, band int, band_hash long, sig_key long"
    ).selectExpr("cast(id as string) id", "band", "band_hash", "sig_key")
    got = {(r.id_a, r.id_b)
           for r in dedup.lsh_candidate_pairs(idx, max_bucket=64).collect()}
    assert ("150", "151") in got


def test_text_quality_whitespace_run_semantics(spark):
    """CLAUDE.md invariant: word semantics everywhere = str.split().
    'a  b' (double space) is 2 words; tabs/newlines split too; avg word
    length comes from the words themselves, not chars-minus-separators."""
    df = spark.createDataFrame(
        [(1, "a  b"), (2, "x\ty\nzz"), (3, "the the the notstop")],
        "doc_id long, text string")
    out = {r.id: r for r in text.text_quality(df, "text", "doc_id").collect()}
    assert out["1"].n_words == 2 and abs(out["1"].avg_word_len - 1.0) < 1e-12
    assert out["2"].n_words == 3 and abs(out["2"].avg_word_len - 4 / 3) < 1e-12
    assert abs(out["3"].stopword_ratio - 0.75) < 1e-12
    # quality_filter: same word definition + the (previously dead)
    # stopword bound actually filters
    kept = {r.doc_id for r in text.quality_filter(
        df, min_words=2, max_stopword_ratio=0.5).collect()}
    assert kept == {1, 2}  # doc 3 is 75% stopwords


def test_keep_best_per_cluster_semantics(spark):
    docs = spark.createDataFrame(
        [("a", "short", 1.0), ("b", "much longer text", 2.0),
         ("c", "mid text", 9.0), ("d", "solo doc", 0.5)],
        "doc_id string, text string, quality double")
    clusters = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "a")], "id string, component string")
    # keep longest in the {a,b,c} cluster; unclustered d passes through
    kept = dedup.keep_best_per_cluster(
        docs, clusters, [F.length("text").desc()]).collect()
    assert sorted(r.doc_id for r in kept) == ["b", "d"]
    # same cluster, quality key instead
    kept_q = dedup.keep_best_per_cluster(
        docs, clusters, [F.col("quality").desc()]).collect()
    assert sorted(r.doc_id for r in kept_q) == ["c", "d"]
    # ties break by ascending id
    tie = dedup.keep_best_per_cluster(
        docs, clusters, [F.lit(1)]).collect()
    assert sorted(r.doc_id for r in tie) == ["a", "d"]
    # original schema survives
    assert {f.name for f in dedup.keep_best_per_cluster(
        docs, clusters, [F.col("quality").desc()]).schema.fields} == {
        "doc_id", "text", "quality"}


def test_keep_best_per_cluster_plans_window_group_limit(spark):
    docs = spark.createDataFrame(
        [("a", "x"), ("b", "yy")], "doc_id string, text string")
    clusters = spark.createDataFrame(
        [("a", "a"), ("b", "a")], "id string, component string")
    out = dedup.keep_best_per_cluster(docs, clusters, [F.length("text").desc()])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan


# ---------------- round-5: line dedup + Gopher rules ----------------


def test_line_dedup_keep_first_global(spark):
    df = spark.createDataFrame([
        (1, "alpha beta\nshared line\ngamma"),
        (2, "shared line\ndelta eps\nshared line"),
        (3, "delta eps"),
        (4, "shared line"),
    ], "doc_id long, text string")
    out = {r.id: r for r in dedup.line_dedup(df).collect()}
    assert len(out) == 4  # fully-deduplicated docs survive
    assert out["1"].text == "alpha beta\nshared line\ngamma"
    assert (out["1"].n_lines, out["1"].n_kept) == (3, 3)
    # within-doc repeat also dropped; order of survivors preserved
    assert out["2"].text == "delta eps"
    assert (out["2"].n_lines, out["2"].n_kept) == (3, 1)
    assert out["3"].text == "" and out["3"].n_kept == 0
    assert out["4"].text == "" and out["4"].n_lines == 1


def test_line_dedup_first_is_smallest_id_then_pos(spark):
    # same line appears at different positions; the (id, pos)-minimal
    # occurrence wins regardless of partitioning
    df = spark.createDataFrame([
        (7, "x y\nDUP"),
        (2, "a b\nDUP\nc d"),
        (2, None),
    ], "doc_id long, text string").filter(F.col("text").isNotNull())
    out = {r.id: r for r in dedup.line_dedup(df.repartition(5)).collect()}
    assert out["2"].text == "a b\nDUP\nc d"
    assert out["7"].text == "x y"


def test_line_dedup_custom_separator_and_empty(spark):
    df = spark.createDataFrame(
        [(1, "p|q|p"), (2, ""), (3, "")],
        "doc_id long, text string")
    out = {r.id: r for r in dedup.line_dedup(df, sep="|").collect()}
    assert out["1"].text == "p|q" and out["1"].n_lines == 3
    # empty text = one empty line; its first occurrence (doc 2) keeps it
    assert out["2"].n_kept == 1 and out["3"].n_kept == 0


def test_line_dedup_no_python_no_join_in_plan(spark):
    df = spark.createDataFrame([(1, "a\nb")], "doc_id long, text string")
    plan = (dedup.line_dedup(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Python" not in plan and "Join" not in plan


def test_gopher_rules_thresholds(spark):
    good = ("the quick brown fox jumps over and that have with be to of "
            * 6).strip()
    df = spark.createDataFrame([
        (1, good),                                    # passes everything
        (2, "short doc"),                             # too few words
        (3, "- a\n- b\nthe end with of and that..."),  # bullets+ellipsis
        (4, "#### #### " + "the be to of and that have with word " * 8),
    ], "doc_id long, text string")
    out = {r.id: r for r in text.gopher_rules(df).collect()}
    assert out["1"].passes and out["1"].n_stopwords == 8
    assert not out["2"].passes and out["2"].n_words == 2
    r3 = out["3"]
    assert abs(r3.bullet_line_frac - 2 / 3) < 1e-12
    assert abs(r3.ellipsis_line_frac - 1 / 3) < 1e-12
    assert not r3.passes
    r4 = out["4"]
    assert abs(r4.symbol_ratio - 8 / 74) < 1e-12 and not r4.passes
    # loosened thresholds flip the verdicts the defaults rejected
    loose = {r.id: r for r in text.gopher_rules(
        df, min_words=2, max_symbol_ratio=1.0, max_bullet_frac=1.0,
        max_ellipsis_frac=1.0, min_stopwords=0).collect()}
    assert loose["2"].passes and loose["4"].passes


def test_gopher_rules_wordless_doc_fails_with_null_ratios(spark):
    df = spark.createDataFrame([(1, "   "), (2, "")],
                               "doc_id long, text string")
    for r in text.gopher_rules(df).collect():
        assert r.n_words == 0 and r.mean_word_len is None and not r.passes


def test_gopher_rules_map_only_plan(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = (text.gopher_rules(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan and "Python" not in plan


def test_c4_rules_line_filters(spark):
    doc = "\n".join([
        "This is a proper sentence one.",          # kept
        "no terminal punctuation here",            # dropped: no terminal
        "Too short.",                              # dropped: 2 words
        "Please enable javascript to continue.",   # dropped: javascript
        "We use cookies on this site.",            # dropped: policy phrase
        'He said "stop".',                         # kept
        "Is this a question?",                     # kept
    ])
    df = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    r = text.c4_rules(df, min_sentences=2).collect()[0]
    assert r.n_lines == 7 and r.n_kept == 3
    assert r.text.split("\n") == ["This is a proper sentence one.",
                                  'He said "stop".', "Is this a question?"]
    assert r.n_sentences == 3
    assert not r.has_lorem and not r.has_brace and r.passes


def test_c4_rules_doc_level_flags(spark):
    df = spark.createDataFrame([
        (1, "Lorem Ipsum dolor sit amet today.\nAnother good sentence here."),
        (2, "Braces lurk { in this sentence.\nMore good text follows here."),
        (3, "One good sentence stands alone."),
    ], "doc_id long, text string")
    out = {r.id: r for r in text.c4_rules(df, min_sentences=1).collect()}
    assert out["1"].has_lorem and not out["1"].passes and out["1"].n_kept == 2
    assert out["2"].has_brace and not out["2"].passes
    assert out["3"].passes and out["3"].n_sentences == 1
    # default min_sentences=5 rejects the single-sentence doc
    strict = {r.id: r for r in text.c4_rules(df).collect()}
    assert not strict["3"].passes


def test_c4_rules_empty_doc_and_map_only_plan(spark):
    df = spark.createDataFrame([(1, ""), (2, None)],
                               "doc_id long, text string")
    for r in text.c4_rules(df).collect():
        assert r.n_kept == 0 and not r.passes
    plan = (text.c4_rules(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan and "Python" not in plan


def test_char_entropy_values(spark):
    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "abab"), (3, "abcd"), (4, ""), (5, None)],
        "doc_id long, text string")
    out = {r.id: r for r in text.char_entropy(df).collect()}
    assert out["1"].entropy == 0.0 and out["1"].distinct_chars == 1
    assert out["1"].max_char_frac == 1.0 and not out["1"].passes
    assert abs(out["2"].entropy - 1.0) < 1e-12 and out["2"].max_char_frac == 0.5
    assert abs(out["3"].entropy - 2.0) < 1e-12 and out["3"].passes
    assert out["4"].n_chars == 0 and out["4"].entropy == 0.0
    assert not out["4"].passes and out["5"].n_chars == 0


def test_char_entropy_unicode_and_batches(spark):
    rows = [(i, "……") for i in range(3)] + [(99, "日本語")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.id: r for r in text.char_entropy(df.repartition(2)).collect()}
    assert out["0"].n_chars == 2 and out["0"].distinct_chars == 1
    assert out["99"].n_chars == 3
    assert abs(out["99"].entropy - np.log2(3)) < 1e-12


def test_char_entropy_map_only_plan(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = (text.char_entropy(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_normalize_text_col(spark):
    df = spark.createDataFrame(
        [(1, "  Hello,   WORLD!! 42 "), (2, "héllo world"), (3, "")],
        "doc_id long, text string")
    out = {r.doc_id: r.n for r in df.select(
        "doc_id", dedup.normalize_text_col(F.col("text")).alias("n")
    ).collect()}
    assert out[1] == "hello world 42"
    assert out[2] == "h llo world"  # non-ASCII letter -> punctuation
    assert out[3] == ""


def test_drop_dups_normalized_keeps_min_id(spark):
    df = spark.createDataFrame([
        (3, "HELLO?? world."), (1, "Hello, World!"), (2, "hello   world"),
        (4, "something else entirely."),
    ], "doc_id long, text string")
    out = sorted((r.doc_id, r.norm)
                 for r in dedup.drop_dups_normalized(df).collect())
    assert out == [(1, "hello world"), (4, "something else entirely")]


def test_drop_dups_normalized_plan_window_group_limit(spark):
    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    plan = (dedup.drop_dups_normalized(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "WindowGroupLimit" in plan and "Python" not in plan


def test_line_repetition_fractions(spark):
    df = spark.createDataFrame([
        (1, "aaa\nbbb\naaa\nccc"),        # 'aaa' x2 of 4 lines, 6/12 chars
        (2, "one\ntwo\nthree"),           # no dups
        (3, ""),                          # empty doc
        (4, None),                        # NULL doc
    ], "doc_id long, text string")
    out = {r.id: r for r in text.line_repetition(df).collect()}
    r1 = out["1"]
    assert r1.n_lines == 4 and abs(r1.dup_line_frac - 0.5) < 1e-12
    assert abs(r1.dup_char_frac - 0.5) < 1e-12 and not r1.passes
    assert out["2"].dup_line_frac == 0.0 and out["2"].passes
    for k in ("3", "4"):
        assert out[k].n_lines == 1 and out[k].dup_char_frac == 0.0
        assert out[k].passes


def test_line_repetition_char_frac_dominant(spark):
    # short dup pair among many uniques: line frac passes (2/12),
    # char frac fails (120/142 > 0.20)
    longdup = "x" * 60
    lines = [f"u{i}" for i in range(10)] + [longdup, longdup]
    df = spark.createDataFrame([(1, "\n".join(lines))],
                               "doc_id long, text string")
    r = text.line_repetition(df).collect()[0]
    assert abs(r.dup_line_frac - 2 / 12) < 1e-12
    assert r.dup_char_frac > 0.8 and not r.passes


def test_line_repetition_custom_sep_and_plan(spark):
    df = spark.createDataFrame([(1, "a|b|a")], "doc_id long, text string")
    r = text.line_repetition(df, sep="|").collect()[0]
    assert r.n_lines == 3 and abs(r.dup_line_frac - 2 / 3) < 1e-12
    plan = (text.line_repetition(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan and "Python" not in plan


def test_ngram_novelty_constructed(spark):
    """Constructed corpus with known gram overlap: ref holds 'a b c d';
    doc1 repeats it exactly (novelty 0), doc2 is fully fresh (novelty 1),
    doc3 shares one of its three distinct grams, doc4 is shorter than n
    (whole-text gram, unseen)."""
    from presto_bloomfilter_spark.operators.text import ngram_novelty

    ref = spark.createDataFrame([("r1", "a b c d")], "doc_id string, text string")
    docs = spark.createDataFrame(
        [
            ("d1", "a b c d"),          # grams {a b c, b c d} both seen
            ("d2", "x y z w"),          # {x y z, y z w} none seen
            ("d3", "a b c q r"),        # {a b c, b c q, c q r} one seen
            ("d4", "a b"),              # short: gram "a b" unseen
        ],
        "doc_id string, text string",
    )
    out = {r["id"]: r for r in ngram_novelty(docs, ref, n=3).collect()}
    assert out["d1"]["novel_grams"] == 0 and out["d1"]["novelty"] == 0.0
    assert out["d2"]["novel_grams"] == 2 and out["d2"]["novelty"] == 1.0
    assert out["d3"]["n_grams"] == 3 and out["d3"]["novel_grams"] == 2
    assert out["d4"]["n_grams"] == 1 and out["d4"]["novelty"] == 1.0


def test_ngram_novelty_dedups_grams_within_doc(spark):
    from presto_bloomfilter_spark.operators.text import ngram_novelty

    ref = spark.createDataFrame([("r1", "p q r")], "doc_id string, text string")
    docs = spark.createDataFrame(
        [("d1", "p q r p q r p q r")], "doc_id string, text string")
    row = ngram_novelty(docs, ref, n=3).collect()[0]
    # 7 raw grams but distinct set is {p q r, q r p, r p q}; only 'p q r' seen
    assert row["n_grams"] == 3
    assert row["novel_grams"] == 2


def test_source_datacard_constructed(spark):
    """Known volumes, duplicate docs, language mix, and an even-count
    median (lower-median convention: smallest value with cum >= n/2)."""
    from presto_bloomfilter_spark.operators.stats import source_datacard

    rows = [
        ("s1", "en", "a b"),      # 3 chars, 2 words
        ("s1", "en", "a b"),      # exact dup of the first
        ("s1", "de", "c d e f"),  # 7 chars, 4 words
        ("s1", "de", "ghi"),      # 3 chars, 1 word
        ("s2", "fr", "xyz"),
    ]
    df = spark.createDataFrame(rows, "source string, lang string, text string")
    out = {r["source"]: r for r in source_datacard(df).collect()}
    s1 = out["s1"]
    assert s1["n_docs"] == 4 and s1["n_words"] == 9
    assert s1["n_chars_sum"] == 3 + 3 + 7 + 3
    assert s1["n_chars_min"] == 3 and s1["n_chars_max"] == 7
    # histogram of n_chars {3:3, 7:1}; ceil(4/2)=2 -> cum at 3 is 3 >= 2
    assert s1["p50_chars"] == 3
    assert s1["dup_docs"] == 1
    assert s1["n_langs"] == 2
    # tie en=2 vs de=2 -> lexicographic min 'de'
    assert s1["top_lang"] == "de"
    s2 = out["s2"]
    assert s2["n_docs"] == 1 and s2["dup_docs"] == 0 and s2["top_lang"] == "fr"


def test_boilerplate_lines_thresholds_and_reassembly(spark):
    """Footer in 3/3 docs removed; promo in 2/3 (>= frac AND >= min_docs)
    removed; unique body lines kept in original order; a doc of pure
    boilerplate survives with text=''."""
    from presto_bloomfilter_spark.operators.text import boilerplate_lines

    rows = [
        ("1", "s", "body one\nPROMO\nFOOTER"),
        ("2", "s", "body two a\nbody two b\nPROMO\nFOOTER"),
        ("3", "s", "body three\nFOOTER"),
        ("4", "s", "FOOTER"),
        ("5", "t", "FOOTER"),  # other source: df=1 there, kept
    ]
    df = spark.createDataFrame(rows, "doc_id string, source string, text string")
    out = {r["id"]: r for r in
           boilerplate_lines(df, min_docs=2, frac=0.4).collect()}
    assert out["1"]["text"] == "body one"
    assert out["2"]["text"] == "body two a\nbody two b"
    assert out["2"]["n_lines"] == 4 and out["2"]["n_kept"] == 2
    assert out["3"]["text"] == "body three"
    assert out["4"]["text"] == "" and out["4"]["n_kept"] == 0
    # df below min_docs in source t -> FOOTER kept there
    assert out["5"]["text"] == "FOOTER"


def test_vocab_coverage_constructed(spark):
    """Corpus 'a'x4 'b'x2 'c'x1: V=1 vocab={a}, V=2 vocab={a,b} (count
    desc, word asc tie-break verified by equal-count pair)."""
    from presto_bloomfilter_spark.operators.stats import vocab_coverage

    rows = [
        ("s1", "a a b c"),
        ("s2", "a a b"),
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    out = {(r["vocab_size"], r["source"]): r
           for r in vocab_coverage(df, budgets=[1, 2]).collect()}
    # V=1: only 'a' in vocab
    assert out[(1, "s1")]["oov_tokens"] == 2 and out[(1, "s1")]["total_tokens"] == 4
    assert out[(1, "s2")]["oov_tokens"] == 1
    assert out[(1, "s1")]["oov_rate"] == 0.5
    # V=2: 'a','b' in vocab -> only the single 'c' is OOV
    assert out[(2, "s1")]["oov_tokens"] == 1
    assert out[(2, "s2")]["oov_tokens"] == 0


def test_psi_drift_identical_and_shifted(spark):
    from presto_bloomfilter_spark.operators.stats import psi_drift

    a = spark.createDataFrame([("x",)] * 50 + [("y",)] * 50, "b string")
    # identical distributions -> PSI ~ 0
    same = psi_drift(a, a, "b").collect()
    assert all(abs(r["psi_term"]) < 1e-9 for r in same)
    assert abs(same[0]["psi_total"]) < 1e-9
    # strong shift incl. a bucket absent on one side -> finite, large PSI
    b = spark.createDataFrame([("x",)] * 95 + [("z",)] * 5, "b string")
    out = {r["bucket"]: r for r in psi_drift(a, b, "b").collect()}
    assert set(out) == {"x", "y", "z"}
    assert out["y"]["cur_cnt"] == 0 and out["z"]["ref_cnt"] == 0
    total = out["x"]["psi_total"]
    assert total > 0.25  # major-shift territory
    import math
    assert all(math.isfinite(r["psi_term"]) for r in out.values())


def test_ngram_containment_quote_detected_where_jaccard_fails(spark):
    """A short quote inside a long doc: containment(quote->doc) = 1.0
    while Jaccard is far below any dedup threshold."""
    from presto_bloomfilter_spark.operators.dedup import (
        ngram_containment_pairs, ngram_jaccard_pairs)

    long_words = " ".join(f"w{i}" for i in range(60))
    quote = " ".join(f"w{i}" for i in range(20, 28))
    df = spark.createDataFrame(
        [("big", long_words), ("quote", quote), ("other", "x y z q r s")],
        "doc_id string, text string")
    pairs = {(r["id_a"], r["id_b"]): r["containment"]
             for r in ngram_containment_pairs(df, threshold=0.9).collect()}
    assert pairs[("quote", "big")] == 1.0
    assert ("big", "quote") not in pairs  # one-sided: big is not in quote
    assert ("other", "big") not in pairs
    jac = ngram_jaccard_pairs(df, threshold=0.5).collect()
    assert jac == []  # jaccard misses the subsumption entirely


def test_nfc_normalize_composes_and_flags(spark):
    import unicodedata

    from presto_bloomfilter_spark.operators.text import nfc_normalize

    dec = "caf" + "e" + chr(0x301)          # decomposed
    comp = "caf" + chr(0xE9)                # composed NFC form
    rows = [("1", dec), ("2", comp), ("3", "plain ascii"), ("4", None)]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r["id"]: r for r in nfc_normalize(df).collect()}
    assert out["1"]["text"] == comp and out["1"]["changed"]
    assert out["2"]["text"] == comp and not out["2"]["changed"]
    assert out["3"]["text"] == "plain ascii" and not out["3"]["changed"]
    assert out["4"]["text"] == "" and not out["4"]["changed"]
    # NUL-containing row takes the per-row fallback, still correct
    nul_df = spark.createDataFrame(
        [("5", "a\x00" + dec)], "doc_id string, text string")
    r5 = nfc_normalize(nul_df).collect()[0]
    assert r5["text"] == unicodedata.normalize("NFC", "a\x00" + dec)
    assert r5["changed"]


def test_filter_blocked_domains_suffix_match_and_multiplicity(spark):
    from presto_bloomfilter_spark.operators.web import filter_blocked_domains

    rows = [
        ("1", "http://spam.example.com/a"),
        ("2", "http://spam.example.com/a"),   # duplicate row preserved
        ("3", "https://EXAMPLE.com:443/b"),   # case/port-insensitive
        ("4", "http://example.community/x"),  # NOT a suffix match
        ("5", "http://good.org/y"),
    ]
    df = spark.createDataFrame(rows, "id string, url string")
    blocked = spark.createDataFrame([("Example.COM",)], "domain string")
    kept = sorted(r["id"] for r in
                  filter_blocked_domains(df, blocked).collect())
    assert kept == ["4", "5"]
    audit = sorted(r["id"] for r in
                   filter_blocked_domains(df, blocked, keep_blocked=True).collect())
    assert audit == ["1", "2", "3"]


def test_log_odds_keywords_separates_planted_vocab(spark):
    """Corpus where A over-uses 'apple' and B over-uses 'banana' on a
    shared background: each side's planted word ranks first, shared
    background words never top either list."""
    from presto_bloomfilter_spark.operators.stats import log_odds_keywords

    a = [("A", "apple apple apple common filler words here")] * 10
    b = [("B", "banana banana banana common filler words here")] * 10
    df = spark.createDataFrame(a + b, "source string, text string")
    out = log_odds_keywords(df, "A", "B", k=3).collect()
    top = {(r["side"], r["rank"]): r for r in out}
    assert top[("a", 1)]["word"] == "apple"
    assert top[("b", 1)]["word"] == "banana"
    assert top[("a", 1)]["z"] > 0 > top[("b", 1)]["z"]
    # symmetric background: z of 'common' is exactly 0 on both lists
    zs = {r["word"]: r["z"] for r in out}
    assert zs.get("common", 0.0) == 0.0


def test_ngram_containment_max_gram_docs_drops_stop_grams(spark):
    """A gram shared by every doc is dropped from candidate generation
    when max_gram_docs caps it; the exact default keeps it."""
    from presto_bloomfilter_spark.operators.dedup import ngram_containment_pairs

    stop = "the quick brown"
    rows = [("a", stop + " fox one"), ("b", stop + " fox one"),
            ("c", stop + " cat two"), ("d", stop + " dog three")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    exact = {(r["id_a"], r["id_b"]) for r in
             ngram_containment_pairs(df, threshold=0.99).collect()}
    assert ("a", "b") in exact and ("b", "a") in exact
    # the universal 'the quick brown' gram is dropped from candidate
    # generation; the denominator |A| stays the full gram set (same
    # contract as ngram_jaccard_pairs), so a<->b survives at 2/3
    filtered = {(r["id_a"], r["id_b"]): r["containment"]
                for r in ngram_containment_pairs(
                    df, threshold=0.6, max_gram_docs=3).collect()}
    assert abs(filtered[("a", "b")] - 2 / 3) < 1e-12
    # and the stop-gram no longer links unrelated docs at all
    assert ("c", "d") not in filtered


def test_percentile_normalize_strictly_less_with_ties(spark):
    from presto_bloomfilter_spark.operators.stats import percentile_normalize

    rows = [("1", "s", 10), ("2", "s", 10), ("3", "s", 20), ("4", "s", 30),
            ("5", "t", 5)]
    df = spark.createDataFrame(rows, "id string, source string, v long")
    out = {r["id"]: r["pctl"] for r in
           percentile_normalize(df, "v", by="source").collect()}
    # ties share the strictly-less rank: both 10s -> 0/4
    assert out["1"] == 0.0 and out["2"] == 0.0
    assert out["3"] == 0.5 and out["4"] == 0.75
    # single-row key: percentile 0, never NaN
    assert out["5"] == 0.0
    # global (by=None) path
    g = {r["id"]: r["pctl"] for r in
         percentile_normalize(df, "v").collect()}
    assert g["5"] == 0.0 and g["4"] == 0.8


def test_winsorize_clips_at_exact_histogram_quantiles(spark):
    from presto_bloomfilter_spark.operators.stats import winsorize
    import pytest as _pytest

    rows = [("s", v) for v in [1, 2, 3, 4, 5, 6, 7, 8, 9, 100]]
    df = spark.createDataFrame(rows, "source string, v long")
    out = winsorize(df, "v", by="source", lo=0.10, hi=0.90).collect()
    one = out[0]
    # ceil(0.1*10)=1 -> lo threshold = min value 1; ceil(0.9*10)=9 -> 9
    assert one["v_lo"] == 1 and one["v_hi"] == 9
    clipped = {r["v"]: r["v_w"] for r in out}
    assert clipped[100] == 9 and clipped[5] == 5 and clipped[1] == 1
    with _pytest.raises(ValueError):
        winsorize(df, "v", lo=0.9, hi=0.1)


_NULL_ROWS = [("1", "s", 10), ("2", "s", None), ("3", "s", 20), ("4", None, 5),
              ("5", None, 7), ("6", None, None), ("7", "t", None)]


def test_percentile_normalize_keeps_null_rows(spark):
    """NULL values and NULL keys keep their rows: a NULL value yields a
    NULL percentile, a NULL key is one group of its own."""
    from presto_bloomfilter_spark.operators.stats import percentile_normalize

    df = spark.createDataFrame(_NULL_ROWS, "id string, source string, v long")
    for by in ("source", None):
        res = percentile_normalize(df, "v", by=by)
        assert res.columns[:2] == ([by, "v"] if by else ["v", "id"])
        out = {r["id"]: r["pctl"] for r in res.collect()}
        assert len(out) == res.count() == df.count()
        assert out["2"] is None and out["6"] is None and out["7"] is None
    by_src = {r["id"]: r["pctl"] for r in percentile_normalize(df, "v", by="source").collect()}
    # counts cover non-NULL values only: s = {10, 20}, NULL key = {5, 7}
    assert (by_src["1"], by_src["3"], by_src["4"], by_src["5"]) == (0.0, 0.5, 0.0, 0.5)
    glob = {r["id"]: r["pctl"] for r in percentile_normalize(df, "v").collect()}
    assert (glob["4"], glob["5"], glob["1"], glob["3"]) == (0.0, 0.25, 0.5, 0.75)


def test_winsorize_keeps_null_rows(spark):
    """NULL values and NULL keys keep their rows: a NULL value yields a
    NULL clip (never the hi threshold), a NULL key is its own group."""
    from presto_bloomfilter_spark.operators.stats import winsorize

    df = spark.createDataFrame(_NULL_ROWS, "id string, source string, v long")
    for by in ("source", None):
        res = winsorize(df, "v", by=by, lo=0.0, hi=0.5)
        assert res.columns == ([by, "id", "v"] if by else ["id", "source", "v"]) + ["v_lo", "v_hi", "v_w"]
        out = {r["id"]: r for r in res.collect()}
        assert len(out) == res.count() == df.count()
        assert all(out[i]["v_w"] is None for i in ("2", "6", "7"))
    out = {r["id"]: r for r in winsorize(df, "v", by="source", lo=0.0, hi=0.5).collect()}
    # NULL-key group {5, 7}: hi = smallest value reaching ceil(0.5 * 2) = 1 -> 5
    assert (out["4"]["v_hi"], out["5"]["v_w"]) == (5, 5)
    assert (out["1"]["v_hi"], out["3"]["v_w"]) == (10, 10)
    # a key whose every value is NULL has no thresholds
    assert out["7"]["v_lo"] is None and out["7"]["v_hi"] is None
