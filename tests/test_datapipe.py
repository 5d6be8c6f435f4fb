"""Datapipe + multimodal tests: operator semantics and cross-checks against
plain-python reimplementations on small corpora."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from transcriptts import datapipe as D
from transcriptts import multimodal as M


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en"),
        (1, "the quick brown fox jumps over the lazy cat", "en"),  # near-dup of 0
        (2, "der hund ist von den katzen nicht begeistert und das ist ok", "de"),
        (3, "le chat est dans la maison et les chiens sont pour une fois calmes", "fr"),
        (4, "el perro es de los gatos en la casa por una razón", "es"),
        (5, "今天天气很好我们去公园散步吧这是一个测试文档", "zh"),
        (6, "THE QUICK  BROWN fox jumps over the lazy dog", "en"),  # exact dup of 0 after norm
        (7, "completely unrelated text about spark query engines and shuffles", "en"),
        (8, "", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_text_stats(docs):
    r = {x["doc_id"]: x for x in D.with_text_stats(docs).collect()}
    assert r[0]["token_count"] == 9
    assert r[8]["token_count"] == 0 and r[8]["punct_ratio"] == 0.0
    assert r[0]["alpha_ratio"] == pytest.approx(35 / 43)  # 43 chars, 8 spaces
    assert r[0]["bpe_token_count"] == 9  # no digits/punct in doc 0


def test_lang_id_on_real_language_text(docs):
    r = {x["doc_id"]: x["lang_pred"] for x in D.with_lang_id(docs).collect()}
    assert r[0] == "en" and r[2] == "de" and r[3] == "fr" and r[4] == "es"
    assert r[5] == "zh"
    assert r[8] == "en"  # empty → fallback


def test_quality_score_bounds(docs):
    for x in D.with_quality_score(docs).collect():
        assert 0.0 <= x["quality_score"] <= 1.0
    scores = {x["doc_id"]: x["quality_score"] for x in D.with_quality_score(docs).collect()}
    assert scores[0] > scores[8]  # real sentence beats empty doc


def test_dedup_exact_normalizes_case_and_whitespace(docs):
    out = D.dedup_exact(docs)
    groups = {r["keep_id"]: r["dup_count"] for r in out.collect()}
    assert groups[0] == 2  # docs 0 and 6 collapse
    assert out.count() == 8  # 9 docs → 8 distinct contents


def test_jaccard_pairs_finds_near_dup(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in D.jaccard_pairs(docs, k=3, threshold=0.4).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == pytest.approx(6 / 8)  # 7 shingles each, 6 shared
    assert (0, 6) in pairs and pairs[(0, 6)] == pytest.approx(1.0)


def test_minhash_dedup_agrees_with_exact_jaccard(docs):
    exact = {(r["id_a"], r["id_b"]) for r in D.jaccard_pairs(docs, k=3, threshold=0.4).collect()}
    mh = {(r["id_a"], r["id_b"]) for r in D.minhash_dedup(docs, num_hashes=64, bands=16, k=3, threshold=0.4).collect()}
    # minhash candidates are verified with exact jaccard → subset; with 16
    # bands and J>=0.75 pairs, recall should be total on this corpus
    assert mh == exact


def test_simhash_near_dup_low_hamming(docs):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in D.simhash_pairs(docs, max_hamming=16).collect()}
    assert (0, 6) in pairs and pairs[(0, 6)] == 0  # same tokens → same simhash
    assert (0, 1) in pairs and pairs[(0, 1)] <= 16


def test_simhash_banding_recall_guarantee(spark):
    """Banded candidate generation must find EVERY pair within max_hamming —
    including pairs whose differing bits straddle several bands (the round-1
    fixed 4-band layout silently dropped Hamming 4-8 pairs)."""
    base = ("the quick brown fox jumps over the lazy dog while seven wizards "
            "brew strong potions beneath the ancient stone bridge at midnight").split()
    rows = []
    for i in range(40):
        words = list(base)
        # mutate i%7 words → a spread of small-to-mid Hamming distances
        for j in range(i % 7):
            words[(i * 3 + j * 5) % len(words)] = f"tok{i}x{j}"
        rows.append((i, " ".join(words), "en"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    sims = {r["id"]: r["simhash"] for r in D.simhash64(docs).collect()}
    truth = {
        (a, b): bin((sims[a] ^ sims[b]) & ((1 << 64) - 1)).count("1")
        for a in sims
        for b in sims
        if a < b and bin((sims[a] ^ sims[b]) & ((1 << 64) - 1)).count("1") <= 8
    }
    # the corpus must actually exercise the contested 4-8 range
    assert any(4 <= h <= 8 for h in truth.values()), sorted(truth.values())
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in D.simhash_pairs(docs, max_hamming=8).collect()}
    assert got == truth


def test_simhash_band_count_validates():
    import pytest as _pytest

    with _pytest.raises(ValueError, match="cannot guarantee recall"):
        D.simhash_pairs(None, max_hamming=8, bands=4)


def test_fingerprint_normalization(docs):
    fp = {r["doc_id"]: r["fingerprint"] for r in D.with_fingerprint(docs).collect()}
    assert fp[0] == fp[6] and fp[0] != fp[1]


# --- embeddings ----------------------------------------------------------------


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(11)
    base = rng.standard_normal((20, 8))
    base[1] = base[0] + rng.standard_normal(8) * 0.01  # near-dup of vec 0
    rows = [(i, [float(x) for x in base[i]]) for i in range(20)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_cosine_topk_requires_explicit_queries(emb):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="explicit"):
        D.cosine_topk(emb, topk=3)


def test_cosine_topk_exact(emb):
    out = D.cosine_topk(emb, topk=3, allow_self_all_pairs=True)
    got = {(r["qid"], r["rank"]): r["cid"] for r in out.collect()}
    mat = np.array(emb.orderBy("vec_id").select("embedding").toPandas()["embedding"].tolist())
    normed = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = normed @ normed.T
    np.fill_diagonal(sims, -np.inf)
    for q in range(20):
        order = np.argsort(-sims[q], kind="stable")[:3]
        assert got[(q, 1)] == order[0], (q, got[(q, 1)], order)
    assert got[(0, 1)] == 1 and got[(1, 1)] == 0  # the planted near-dup pair


def test_ann_lsh_finds_planted_near_dup(emb):
    out = {(r["qid"], r["rank"]): r["cid"] for r in D.ann_lsh_topk(emb, topk=3, n_planes=6).collect()}
    assert out[(0, 1)] == 1  # near-identical vectors share every sign bit


def test_embedding_dedup(emb):
    pairs = [(r["id_a"], r["id_b"]) for r in D.embedding_dedup(emb, threshold=0.99).collect()]
    assert pairs == [(0, 1)]


# --- multimodal stubs ------------------------------------------------------------


def test_multimodal_feature_plumbing(spark):
    media = M.synth_media(spark, n=30)
    feats = M.extract_features(media).collect()
    assert len(feats) == 30
    for r in feats:
        assert len(r["feature"]) == M.FEATURE_DIM and r["payload_bytes"] > 0
    # deterministic: same payload → same features
    again = M.extract_features(M.synth_media(spark, n=30)).collect()
    assert {r["media_id"]: r["feature"] for r in feats} == {r["media_id"]: r["feature"] for r in again}


def test_multimodal_raise_stub(spark):
    """A decoder that raises marks a codec as unavailable: the job fails
    with its error."""

    def unavailable(payload, kind):
        raise NotImplementedError(f"no {kind} decoder here")

    media = M.synth_media(spark, n=3)
    with pytest.raises(Exception, match="NotImplementedError: no (image|audio|video) decoder"):
        M.extract_features(media, decoder=unavailable).collect()


def test_frame_sample_plan(spark):
    media = M.synth_media(spark, n=9)
    plan = M.frame_sample_plan(media, every_n=100)
    rows = plan.groupBy("media_id").count().collect()
    assert all(r["count"] >= 1 for r in rows)
    assert plan.where("frame_idx % 100 != 0").count() == 0


def test_ann_recall_floor(spark):
    """OR-amplified LSH reaches >=0.9 planted-near-dup recall (BENCH/
    ANN_RECALL.md records the full sweep); single-probe is strictly lower.
    Planted pairs at cos ~0.98 — the dedup regime sign-LSH is built for."""
    from collections import defaultdict

    rng = np.random.default_rng(3)
    base = rng.standard_normal((300, 64))
    planted = base[:100] + rng.standard_normal((100, 64)) * 0.18
    rows = [(i, base[i].tolist()) for i in range(300)] + [
        (1000 + i, planted[i].tolist()) for i in range(100)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def planted_recall(n_tables):
        df = D.ann_lsh_topk(emb, topk=5, n_planes=8, dim=64, n_tables=n_tables)
        A = defaultdict(set)
        for r in df.select("qid", "cid").collect():
            A[r["qid"]].add(r["cid"])
        return sum(1 for i in range(100) if (1000 + i) in A[i] or i in A[1000 + i]) / 100

    single, amplified = planted_recall(1), planted_recall(4)
    assert amplified >= 0.9, amplified
    assert single < amplified


def test_ann_ivf_recall_and_determinism(spark):
    """IVF-Flat: planted near-dups (cos ~0.98) land in the same cell at high
    rate, so nprobe=4/16 recall clears 0.9; the md5-sampled codebook is
    deterministic across calls; assignments cover every vector exactly once;
    cell assignment is one Arrow-batched UDF."""
    from collections import defaultdict

    rng = np.random.default_rng(3)
    base = rng.standard_normal((300, 64))
    planted = base[:100] + rng.standard_normal((100, 64)) * 0.18
    rows = [(i, base[i].tolist()) for i in range(300)] + [
        (1000 + i, planted[i].tolist()) for i in range(100)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    cb1 = D.ivf_codebook(emb, k_cells=16)
    cb2 = D.ivf_codebook(emb, k_cells=16)
    assert cb1 == cb2 and len(cb1) == 16

    df = D.ann_ivf_topk(emb, k_cells=16, nprobe=4, topk=5, codebook=cb1)
    A = defaultdict(set)
    for r in df.select("qid", "cid").collect():
        A[r["qid"]].add(r["cid"])
    recall = sum(1 for i in range(100) if (1000 + i) in A[i] or i in A[1000 + i]) / 100
    assert recall >= 0.9, recall

    # each (qid, cid) pair at most once: cells are disjoint, no dedupe needed
    pairs = df.select("qid", "cid").collect()
    assert len(pairs) == len({(r["qid"], r["cid"]) for r in pairs})

    # cell assignment is Arrow-batched, never row-at-a-time Python
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan
    # a corpus vector's cell is its nearest probe, so there must be one
    with pytest.raises(ValueError, match="nprobe"):
        D.ann_ivf_topk(emb, nprobe=0, codebook=cb1)


def test_jaccard_plan_has_no_cache_and_expression_sizes(docs):
    """The corpus-sized shingle explode must not be cached (round-2 advice):
    no InMemoryTableScan in the plan, and per-doc sizes come from the
    expression-only shingle_array (no second explode for sizes)."""
    plan = D.jaccard_pairs(docs, k=3, threshold=0.3)._jdf.queryExecution().toString()
    assert "InMemoryTableScan" not in plan and "InMemoryRelation" not in plan


def test_jaccard_plan_single_corpus_exchange(docs):
    """Round-4 shape: the exploded (id, shingle) frame crosses the wire
    exactly once (groupBy-collect buckets + narrow posexplode pair
    generation) — a self-join formulation shuffles it twice. Pin the plan:
    exactly ONE exchange keyed on the shingle column (the only corpus-sized
    frame; the sizes-join exchanges carry tiny per-pair rows) and the
    posexplode pair path present."""
    import re

    plan = (
        D.jaccard_pairs(docs, k=3, threshold=0.3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert len(re.findall(r"Exchange hashpartitioning\(shingle", plan)) == 1, plan[:2000]
    assert "posexplode" in plan


def test_multimodal_decoder_seam(spark):
    """A real decoder plugs in through the public `decoder=` parameter —
    no reaching into module privates — and its outputs flow through the
    Arrow batch contract unchanged."""
    dim = M.FEATURE_DIM

    def unit_decoder(payload: bytes, kind: str):
        # nested so cloudpickle ships it by value (the tests package is not
        # importable on executors)
        return [float(len(payload)), float(len(kind))] + [0.0] * (dim - 2)

    media = M.synth_media(spark, n=12)
    out = M.extract_features(media, decoder=unit_decoder)
    rows = {r["media_id"]: r for r in out.collect()}
    assert len(rows) == 12
    for r in rows.values():
        assert len(r["feature"]) == M.FEATURE_DIM
        assert r["feature"][0] == float(r["payload_bytes"])


def test_wav_decode_roundtrip_exact(spark):
    """decode_wav recovers the EXACT int16 samples synth_audio encoded:
    the real RIFF/PCM16 container roundtrip, not a hash comparison."""
    import numpy as np

    rows = {r["media_id"]: bytes(r["payload"]) for r in M.synth_audio(spark, n=7).collect()}
    for mid, payload in rows.items():
        n = 400 + (mid % 5) * 100
        expected = M._md5_pcm_samples(mid, n).astype(np.float64) / 32768.0
        got, sr = M.decode_wav(payload)
        assert sr == 16000 and len(got) == n
        np.testing.assert_array_equal(got, expected)


def test_wav_decode_stereo_and_guards():
    import io
    import wave

    import numpy as np

    pcm = np.array([[1000, 3000], [-2000, -4000], [0, 100]], dtype=np.int16)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(pcm.tobytes())
    x, sr = M.decode_wav(buf.getvalue())
    assert sr == 8000
    np.testing.assert_allclose(x, pcm.mean(axis=1) / 32768.0)
    with pytest.raises(NotImplementedError, match="audio"):
        M.decode_wav(b"...", kind="image")


def test_audio_features_match_direct_numpy(spark):
    """The Spark mapInPandas path agrees with a direct numpy computation on
    the decoded samples — locks the Arrow transport + schema, and that the
    features really come from decoded audio."""
    import numpy as np

    out = {r["media_id"]: r for r in M.audio_features(M.synth_audio(spark, n=10)).collect()}
    assert len(out) == 10
    for mid, r in out.items():
        n = 400 + (mid % 5) * 100
        x = M._md5_pcm_samples(mid, n).astype(np.float64) / 32768.0
        assert r["n_samples"] == n and r["sample_rate"] == 16000
        assert r["duration_s"] == n / 16000.0
        assert abs(r["mean_amp"] - x.mean()) < 1e-12
        assert abs(r["rms"] - np.sqrt((x * x).mean())) < 1e-12
        assert abs(r["peak"] - np.abs(x).max()) < 1e-12
        assert r["zero_crossings"] == int(np.count_nonzero((x[1:] < 0) != (x[:-1] < 0)))


def test_audio_features_filters_non_audio(spark):
    """Mixed media frames: non-audio rows are dropped JVM-side before the
    decode UDF ever runs (their payloads would not parse as WAV)."""
    non_audio = M.synth_media(spark, n=9).where("kind <> 'audio'")
    mixed = non_audio.union(M.synth_audio(spark, n=4))
    assert M.audio_features(mixed).count() == 4


# --- connected components / dedup groups ---------------------------------------


def _uf_components(n_ids, pairs):
    """Naive union-find ground truth: id -> min id of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in n_ids}


def test_connected_components_matches_union_find(spark):
    # two chains, one triangle-with-tail, singleton edge endpoints
    pairs = [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22), (22, 23)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {r["v"]: r["component_id"] for r in D.connected_components(df).collect()}
    ids = sorted({x for p in pairs for x in p})
    want = _uf_components(ids, pairs)
    assert got == want
    # chain 1-2-3-4 collapses to 1 despite (1,4) never being a pair
    assert got[4] == 1 and got[23] == 20


def test_connected_components_long_path_converges(spark):
    # path graph of 40 nodes — worst case for label propagation (diameter 39)
    pairs = [(i, i + 1) for i in range(40)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {r["v"]: r["component_id"] for r in D.connected_components(df, max_iter=50).collect()}
    assert set(got.values()) == {0} and len(got) == 41


def test_dedup_components_keep_set(spark, docs):
    """End-to-end: minhash pairs -> transitive groups -> one canonical doc
    per group; docs without any near-dup keep themselves."""
    pairs = D.minhash_dedup(docs, num_hashes=32, bands=8, k=3, threshold=0.3)
    out = D.dedup_components(docs, pairs)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == 9
    pair_rows = [(r["id_a"], r["id_b"]) for r in pairs.collect()]
    want = _uf_components(sorted(rows), pair_rows)
    for did, r in rows.items():
        assert r["component_id"] == want.get(did, did)
        assert r["is_canonical"] == (r["component_id"] == did)
    # 0, 1, 6 are mutual near-dups in the fixture: one canonical survivor
    assert rows[0]["component_id"] == rows[1]["component_id"] == rows[6]["component_id"] == 0
    assert rows[7]["is_canonical"] and rows[8]["is_canonical"]


def test_connected_components_random_graphs_vs_union_find(spark):
    """Seeded random edge lists (sparse + denser): the public call (min-label
    propagation, which converges on these) and star contraction, called
    directly since the public call only reaches it on long diameters, must
    both agree with union-find exactly."""
    import random

    for seed, n_nodes, n_edges in ((101, 60, 40), (202, 40, 80)):
        rng = random.Random(seed)
        pairs = [
            tuple(sorted(rng.sample(range(n_nodes), 2))) for _ in range(n_edges)
        ]
        df = spark.createDataFrame(pairs, "id_a long, id_b long")
        ids = sorted({x for p in pairs for x in p})
        want = _uf_components(ids, pairs)
        edges = df.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        for name, comp in (
            ("public", D.connected_components(df)),
            ("star", D._star_components(edges, 25)),
        ):
            got = {r["v"]: r["component_id"] for r in comp.collect()}
            assert got == want, (
                seed, name, {k: (got[k], want[k]) for k in got if got[k] != want[k]},
            )


def _await_log(caplog, needle: str, timeout: float = 15.0) -> bool:
    """Poll caplog for a record containing `needle` — cap-binding warnings
    arrive from the Observation daemon thread shortly AFTER the action."""
    import time

    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if any(needle in r.getMessage() for r in caplog.records):
            return True
        time.sleep(0.05)
    return False


def test_embedding_dedup_warns_when_cap_binds(spark, caplog):
    """warn_cap_binding=True logs when the per-vector candidate window fills
    (SURVEY's documented cap-binding diagnostic). Round-5: the count rides a
    free Observation on the main job — the warning lands asynchronously just
    after the first action, with NO extra Spark job."""
    import logging

    # 6 identical vectors -> every query's window fills at cap=2
    rows = [(i, [1.0, 0.0, 0.0]) for i in range(6)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with caplog.at_level(logging.WARNING, logger="transcriptts.datapipe"):
        out = D.embedding_dedup(
            emb, threshold=0.9, n_planes=4, dim=3, max_pairs_per_vector=2,
            warn_cap_binding=True,
        )
        n = out.count()
        assert n > 0
        assert _await_log(caplog, "max_pairs_per_vector")
    # default: no extra job, no warning
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="transcriptts.datapipe"):
        D.embedding_dedup(emb, threshold=0.9, n_planes=4, dim=3, max_pairs_per_vector=2).count()
        assert not _await_log(caplog, "max_pairs_per_vector", timeout=1.0)


def test_lsh_bucket_cap_bounds_degenerate_corpus(spark, caplog):
    """Round-5 (VERDICT #1): 10^4 identical docs — every band hashes every
    doc into ONE bucket, so uncapped banding would emit ~5*10^7 candidate
    pairs per band. With max_bucket_size the output is bounded by n*cap,
    the job completes fast, and the cap-binding diagnostic fires."""
    import logging

    n = 10_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate banner text repeated across the corpus").alias("text"),
    )
    sigs = D.minhash_signatures(docs, num_hashes=16, k=3)
    with caplog.at_level(logging.WARNING, logger="transcriptts.datapipe"):
        pairs = D.lsh_candidate_pairs(
            sigs, bands=4, sig_len=16, max_bucket_size=8, warn_cap_binding=True
        )
        n_pairs = pairs.count()
        assert 0 < n_pairs <= n * 8  # sorted-adjacency band, not d^2/2
        assert _await_log(caplog, "max_bucket_size")


def test_lsh_capped_bucket_stays_connected(spark):
    """Cap semantics: an oversized bucket degrades to a sorted-adjacency band
    that keeps the whole duplicate cluster ONE connected component — so
    transitive dedup still groups it (the reason the cap is a band, not a
    drop-the-bucket filter like jaccard's stop-shingle cap)."""
    docs = spark.range(50).select(
        F.col("id").alias("doc_id"), F.lit("identical duplicate document body here").alias("text")
    )
    sigs = D.minhash_signatures(docs, num_hashes=16, k=3)
    pairs = D.lsh_candidate_pairs(sigs, bands=2, sig_len=16, max_bucket_size=3)
    comp = D.connected_components(pairs)
    groups = {r["component_id"] for r in comp.collect()}
    assert len(groups) == 1  # all 50 ids in one component despite the cap


def test_lsh_banding_plan_single_exchange_ids_only(spark):
    """Round-5 plan pin (VERDICT #1/#2): candidate generation is the
    jaccard_pairs shape — the banded frame crosses the wire ONCE
    (groupBy(band,bucket) + collect_list; a self-join would exchange it
    twice), pair generation is narrow posexplode, and the distinct
    aggregates bare (id_a, id_b) only."""
    import re

    rows = [(i, f"document number {i} with some shared tokens {i % 7}") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = D.minhash_signatures(docs, num_hashes=16, k=3)
    plan = (
        D.lsh_candidate_pairs(sigs, bands=4, sig_len=16)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert len(re.findall(r"Exchange hashpartitioning\(band", plan)) == 1, plan[:2000]
    assert "posexplode" in plan
    assert re.search(r"keys=\[id_a#\d+L?, id_b#\d+L?\]", plan), plan[:2000]


def test_ann_lsh_plan_vectors_travel_once(spark):
    """Round-5 plan pin (VERDICT #2): ann_lsh_topk's OR-amplification dedup
    exchanges bare id pairs, not vector-carrying rows — the bucket grouping
    is the only exchange keyed on (tbl, bucket), and the distinct's
    aggregate keys are exactly [id_a, id_b]."""
    import re

    rng = np.random.default_rng(11)
    rows = [(i, rng.standard_normal(16).tolist()) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    df = D.ann_lsh_topk(emb, topk=3, n_planes=4, dim=16, n_tables=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning\(tbl", plan)) == 1, plan[:2000]
    assert re.search(r"keys=\[id_a#\d+L?, id_b#\d+L?\]", plan), plan[:2000]
    # and the rewrite preserves exactness within buckets: ranked output sane
    got = df.collect()
    assert got and all(r["rank"] <= 3 for r in got)


def test_star_components_adversarial_path(spark):
    """A 4096-node path graph: min-label needs diameter (4095) rounds and
    stops unconverged at max_iter, so the default call falls back to star
    contraction, which converges in O(log^2 n) iterations on any diameter.
    A node whose only pair is a self-loop stays its own component there."""
    n = 4096
    pairs = [(i, i + 1) for i in range(n - 1)] + [(n + 10, n + 10)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long").coalesce(8)
    got = D.connected_components(df)
    rows = {r["v"]: r["component_id"] for r in got.collect()}
    assert rows.pop(n + 10) == n + 10
    assert len(rows) == n and set(rows.values()) == {0}


# --- real image modality (round 5) -------------------------------------------


def test_ppm_decode_roundtrip_exact(spark):
    """synth_images payloads are genuine binary PPM: decode_ppm recovers the
    exact md5-derived pixels, byte for byte."""
    rows = M.synth_images(spark, n=7).collect()
    for r in rows:
        arr = M.decode_ppm(bytes(r["payload"]))
        w, h = r["meta"]["width"], r["meta"]["height"]
        assert arr.shape == (h, w, 3)
        want = M._md5_pixel_rgb(r["media_id"], w * h).reshape(h, w, 3)
        assert (arr == want).all()


def test_ppm_decode_handles_comments_and_rejects_others():
    import numpy as np

    rgb = bytes(range(12))
    payload = b"P6\n# a comment line\n2 2\n255\n" + rgb
    arr = M.decode_ppm(payload)
    assert arr.shape == (2, 2, 3) and bytes(arr.tobytes()) == rgb
    with pytest.raises(NotImplementedError, match="P6"):
        M.decode_ppm(b"\x89PNG\r\n....")
    with pytest.raises(NotImplementedError, match="image"):
        M.decode_ppm(payload, kind="video")


def test_image_features_from_decoded_pixels(spark):
    """image_features values equal a straight numpy recompute from the
    md5 pixel derivation — proving the features come from actually-decoded
    payload bytes, not metadata or hashes."""
    import numpy as np

    out = {r["media_id"]: r for r in M.image_features(M.synth_images(spark, n=12)).collect()}
    assert len(out) == 12
    for i in range(12):
        w, h = 8 + (i % 4) * 2, 6 + (i % 3) * 2
        px = M._md5_pixel_rgb(i, w * h).astype(np.int64)
        r = out[i]
        assert (r["width"], r["height"], r["n_pixels"]) == (w, h, w * h)
        assert r["sum_r"] == int(px[:, 0].sum())
        assert r["sum_g"] == int(px[:, 1].sum())
        assert r["sum_b"] == int(px[:, 2].sum())
        luma = 0.299 * px[:, 0] + 0.587 * px[:, 1] + 0.114 * px[:, 2]
        assert r["mean_luma"] == pytest.approx(float(luma.mean()), abs=1e-9)


def test_ppm_decoder_through_extract_features_seam(spark):
    """The public decoder= seam carries the real PPM decoder end-to-end."""
    imgs = M.synth_images(spark, n=6)
    rows = {r["media_id"]: r for r in M.extract_features(imgs, decoder=M.ppm_feature_decoder).collect()}
    for i, r in rows.items():
        w, h = 8 + (i % 4) * 2, 6 + (i % 3) * 2
        px = M._md5_pixel_rgb(i, w * h)
        want = [float(v) / 256.0 for v in px[: M.FEATURE_DIM, 0]]
        got = list(r["feature"])[: len(want)]
        assert got == pytest.approx(want, abs=1e-6)


def test_y4m_decode_roundtrip_exact(spark):
    """synth_videos payloads are genuine YUV4MPEG2 streams: decode_y4m
    recovers the exact md5-derived planes of every frame, byte for byte."""
    rows = M.synth_videos(spark, n=8).collect()
    for r in rows:
        arr = M.decode_y4m(bytes(r["payload"]))
        w, h, nf = r["meta"]["width"], r["meta"]["height"], r["meta"]["n_frames"]
        assert arr.shape == (nf, 3, h, w)
        for f in range(nf):
            want = M._md5_frame_yuv(r["media_id"], f, w * h).reshape(3, h, w)
            assert (arr[f] == want).all()


def test_y4m_decode_parses_tags_and_rejects_others():
    import numpy as np

    yuv = bytes(range(24))  # 2x2 C444 frame x2
    payload = (
        b"YUV4MPEG2 W2 H2 F30000:1001 It A0:0 C444 XCOMMENT\n"
        b"FRAME Xparam\n" + yuv[:12] + b"FRAME\n" + yuv[12:]
    )
    arr = M.decode_y4m(payload)
    assert arr.shape == (2, 3, 2, 2) and arr.tobytes() == yuv
    with pytest.raises(NotImplementedError, match="YUV4MPEG2"):
        M.decode_y4m(b"\x00\x00\x00\x18ftypmp42....")
    with pytest.raises(NotImplementedError, match="C444"):
        M.decode_y4m(b"YUV4MPEG2 W2 H2 C420jpeg\nFRAME\n" + yuv[:6])
    with pytest.raises(NotImplementedError, match="C444"):
        # no C tag -> Y4M's default chroma is 420, still unsupported
        M.decode_y4m(b"YUV4MPEG2 W2 H2\nFRAME\n" + yuv[:6])
    with pytest.raises(NotImplementedError, match="video"):
        M.decode_y4m(payload, kind="image")


def test_video_features_from_decoded_frames(spark):
    """video_features values equal a straight numpy recompute from the md5
    plane derivation over the every_n-sampled frames — proving the features
    come from actually-decoded payload bytes and the sampling stride matches
    range(0, nf, every_n)."""
    import numpy as np

    out = {
        r["media_id"]: r
        for r in M.video_features(M.synth_videos(spark, n=12), every_n=2).collect()
    }
    assert len(out) == 12
    for i in range(12):
        w, h, nf = 8 + (i % 4) * 2, 6 + (i % 3) * 2, 3 + i % 4
        sampled = list(range(0, nf, 2))
        planes = np.stack(
            [M._md5_frame_yuv(i, f, w * h).astype(np.int64) for f in sampled]
        )  # (ns, 3, w*h)
        r = out[i]
        assert (r["width"], r["height"], r["n_frames"], r["n_sampled"]) == (w, h, nf, len(sampled))
        assert r["sum_y"] == int(planes[:, 0].sum())
        assert r["sum_u"] == int(planes[:, 1].sum())
        assert r["sum_v"] == int(planes[:, 2].sum())
        assert r["mean_y"] == pytest.approx(planes[:, 0].sum() / (len(sampled) * w * h), abs=1e-9)


def test_video_features_filters_non_video(spark):
    """Mixed media frames: non-video rows are dropped JVM-side before the
    decode UDF ever runs (their payloads would not parse as Y4M)."""
    non_video = M.synth_media(spark, n=9).where("kind <> 'video'")
    mixed = non_video.union(M.synth_videos(spark, n=4))
    assert M.video_features(mixed, every_n=2).count() == 4


def test_y4m_decoder_through_extract_features_seam(spark):
    """The public decoder= seam carries the real Y4M decoder end-to-end."""
    vids = M.synth_videos(spark, n=6)
    rows = {
        r["media_id"]: r
        for r in M.extract_features(vids, decoder=M.y4m_feature_decoder).collect()
    }
    for i, r in rows.items():
        w, h = 8 + (i % 4) * 2, 6 + (i % 3) * 2
        planes = M._md5_frame_yuv(i, 0, w * h)
        want = [float(v) / 256.0 for v in planes[0, : M.FEATURE_DIM]]
        got = list(r["feature"])[: len(want)]
        assert got == pytest.approx(want, abs=1e-6)
