"""Extensions: LSH/SimHash approximate paths pinned against exact
twins; multimodal plumbing exercised with synthetic binary payloads."""

import math

import numpy as np
import pyspark.sql.functions as F
import pytest

from real_time_event_driven_data_pipeline_spark.operators import (
    dedup,
    multimodal,
    similarity,
    text,
)
from real_time_event_driven_data_pipeline_spark.sources.readers import load_testdata

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_testdata(spark, SF, "documents")["documents"].cache()


@pytest.fixture(scope="module")
def emb(spark):
    return load_testdata(spark, SF, "embeddings")["embeddings"].cache()


def test_minhash_lsh_equals_exact_jaccard(spark, docs):
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    lsh = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    assert exact, "fixture should contain planted near-dups"
    # r=2,b=32 banding: recall ~1 at the 0.5 threshold on this corpus,
    # and verification makes candidates exact -> sets must coincide
    assert lsh == exact


def test_simhash_finds_planted_near_dups(spark, docs):
    near = {
        (r.id_a, r.id_b)
        for r in dedup.simhash_near_pairs(docs, max_hamming=10).collect()
    }
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    assert exact, "fixture should contain strong near-dups"
    found = len(near & exact) / len(exact)
    assert found >= 0.8, f"simhash recall {found} on strong near-dups"


def test_simhash_signature_deterministic(spark, docs):
    one = {r.doc_id: r.simhash for r in dedup.simhash_signatures(docs.limit(50)).collect()}
    two = {r.doc_id: r.simhash for r in dedup.simhash_signatures(docs.limit(50)).collect()}
    assert one == two


def test_lsh_ann_recall_vs_brute_force(spark, emb):
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    dim = len(emb.select("embedding").head()[0])
    exact = {
        (r.query_id, r.vec_id)
        for r in similarity.cosine_topk(emb, queries, k=10).collect()
    }
    approx = {
        (r.query_id, r.vec_id)
        for r in similarity.lsh_bucket_ann(emb, queries, dim=dim, k=10).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"LSH ANN recall {recall}"
    # lazy (executor-side seeded) plane generation must reproduce the
    # eager driver-side planes exactly — same rng, same draw order
    lazy = {
        (r.query_id, r.vec_id)
        for r in similarity.lsh_bucket_ann(emb, queries, k=10).collect()
    }
    assert lazy == approx, "lazy plane generation diverged from eager"


def test_ann_lsh_plan_build_triggers_no_job(spark):
    """r3 verdict item: building the ann_lsh_topk plan ran a head() to
    discover dim — a Spark job during query *construction*.  Pin the
    fix: constructing the DataFrame must schedule zero jobs."""
    import __spark_entry__ as ent

    from .conftest import SF_DIR

    sc = spark.sparkContext
    # warm the file index / schema read once OUTSIDE the probe: listing
    # a table for the first time may schedule a footer-read job, which
    # is a property of lazy table discovery, not of this query builder
    ent.queries()["ann_lsh_topk"](spark, SF_DIR)
    sc.setJobGroup("plan-build-probe", "ann_lsh_topk plan construction")
    try:
        ent.queries()["ann_lsh_topk"](spark, SF_DIR)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sc.statusTracker().getJobIdsForGroup("plan-build-probe")


def test_ivf_ann_recall_vs_brute_force(spark, emb):
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r.query_id, r.vec_id)
        for r in similarity.cosine_topk(emb, queries, k=10).collect()
    }
    cent = similarity.train_ivf_centroids(emb, n_centroids=16)
    approx = {
        (r.query_id, r.vec_id)
        for r in similarity.ivf_ann(emb, queries, cent, n_probe=6, k=10).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"IVF ANN recall {recall}"


def test_ivf_centroids_deterministic(spark, emb):
    import numpy as np

    c1 = similarity.train_ivf_centroids(emb, n_centroids=8)
    c2 = similarity.train_ivf_centroids(emb, n_centroids=8)
    assert np.array_equal(c1, c2)


def test_dedup_exact_keeps_one_per_group(spark, docs):
    doubled = docs.unionAll(docs.withColumn("doc_id", F.col("doc_id") + 1_000_000))
    kept = dedup.dedup_exact(doubled)
    assert kept.count() == docs.count()
    assert kept.agg(F.max("doc_id")).collect()[0][0] < 1_000_000


def test_curate_corpus_lsh_equals_exact(spark, docs):
    exact_ids = {r.doc_id for r in dedup.curate_corpus(docs).select("doc_id").collect()}
    lsh_ids = {
        r.doc_id
        for r in dedup.curate_corpus(docs, use_lsh=True).select("doc_id").collect()
    }
    assert exact_ids == lsh_ids
    assert 0 < len(exact_ids) < docs.count()  # something removed, not everything


def test_stop_shingle_cap_preserves_recall(spark, docs):
    """The pipeline call sites pass a stop-shingle cap
    (CorpusCurationPipeline default, curate_corpus knob); pin that a
    moderate cap changes NOTHING on this corpus — any pair whose
    overlap survives the cap is still found and verified exact."""
    uncapped = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    capped = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.5, max_shingle_df=50
        ).collect()
    }
    assert uncapped, "fixture should contain planted near-dups"
    assert capped == uncapped

    base = {r.doc_id for r in dedup.curate_corpus(docs).select("doc_id").collect()}
    with_cap = {
        r.doc_id
        for r in dedup.curate_corpus(docs, max_shingle_df=50)
        .select("doc_id")
        .collect()
    }
    assert with_cap == base


def test_incremental_indexed_cap_preserves_recall(spark, docs):
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    posts = dedup.doc_postings(old)
    uncapped = {
        (r.id_a, r.id_b)
        for r in dedup.incremental_near_dup_pairs_indexed(
            posts, new, threshold=0.5
        ).collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in dedup.incremental_near_dup_pairs_indexed(
            posts, new, threshold=0.5, max_shingle_df=50
        ).collect()
    }
    assert capped == uncapped


def test_incremental_indexed_job_count(spark, docs):
    """Regression guard on the indexed gate's plan shape: every relation
    it reads more than once is pinned, so a 40-document batch over a
    posting history runs a few dozen Spark jobs at most.  Left lazy,
    Catalyst inlined ~2^4 copies of the posting union whose exchanges
    each ran as their own job (~370 here).  Jobs are counted by job-id
    high-water mark, which late-session job-store eviction cannot skew."""
    posts = dedup.doc_postings(docs.filter(F.col("doc_id") % 2 == 0)).cache()
    posts.count()
    new = docs.filter((F.col("doc_id") % 2 == 1) & (F.col("doc_id") < 80))
    assert new.count() == 40
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    before = scheduler.numTotalJobs()
    dedup.incremental_near_dup_pairs_indexed(
        posts, new, threshold=0.5, max_shingle_df=50
    ).collect()
    jobs = scheduler.numTotalJobs() - before
    posts.unpersist()
    assert jobs <= 30, jobs


def test_text_stats_ranges(spark, docs):
    stats = text.text_stats(docs).collect()
    assert len(stats) == docs.count()
    for r in stats:
        assert r.n_tokens > 0 and r.n_chars > 0
        assert 0.0 <= r.alpha_ratio <= 1.0
        assert 0.0 <= r.stopword_ratio <= 1.0


def test_multimodal_feature_extraction(spark):
    rng = np.random.default_rng(0)
    rows = [
        (i, "image", bytes(rng.integers(0, 256, 400).astype(np.uint8)), "img/fake", 20, 20, None)
        for i in range(10)
    ] + [(99, "video", b"\x00" * 64, "video/fake", None, None, 3500)]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    feats = {r.media_id: r for r in multimodal.extract_image_features(media).collect()}
    assert set(feats) == set(range(10))
    for i, r in feats.items():
        assert r.n_bytes == 400
        assert 0.0 <= r.mean_intensity <= 255.0
        assert r.thumb_w == 8 and r.thumb_h == 8
    frames = multimodal.frame_sample_stub(media, every_ms=1000).collect()
    assert [(f.frame_idx, f.frame_ts_ms) for f in frames] == [(0, 0), (1, 1000), (2, 2000), (3, 3000)]


def test_image_near_dups_banded_equals_brute_force(spark):
    """With max_dist <= bands-1 the band-LSH candidate join is LOSSLESS
    (pigeonhole): the banded pipeline must reproduce the brute-force
    all-pairs Hamming scan exactly — including planted near-identical
    payloads (few flipped bytes) and exact duplicates."""
    rng = np.random.default_rng(3)
    payloads = [bytes(rng.integers(0, 256, 400).astype(np.uint8)) for i in range(20)]
    # plant: 20 == copy of 0 with 2 bytes flipped; 21 == exact copy of 1
    near = bytearray(payloads[0])
    near[5] = (near[5] + 100) % 256
    near[37] = (near[37] + 100) % 256
    payloads.append(bytes(near))
    payloads.append(payloads[1])
    rows = [
        (i, "image", p, None, None, None, None) for i, p in enumerate(payloads)
    ] + [(99, "video", b"\x00" * 64, None, None, None, 1000)]  # filtered out
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)

    # brute force over the same decoder + dhash math
    hashes = {i: multimodal.dhash_bands(multimodal.decode_image(p))
              for i, p in enumerate(payloads)}

    def brute(max_dist):
        want = {}
        for a in range(len(payloads)):
            for b in range(a + 1, len(payloads)):
                d = sum(bin(x ^ y).count("1") for x, y in zip(hashes[a], hashes[b]))
                if d <= max_dist:
                    want[(a, b)] = d
        return want

    # both band paths: 8 x 8-bit (max_dist 4..7) and the scale-selective
    # C(6,3) block-combination keys (max_dist <= 3)
    for max_dist in (7, 3):
        got = {
            (r.media_id_a, r.media_id_b): r.hamming_dist
            for r in multimodal.image_near_dups(media, max_dist=max_dist).collect()
        }
        assert got == brute(max_dist), f"max_dist={max_dist}"
        assert got[(1, 21)] == 0  # exact copy
    assert (0, 20) in brute(7)  # 2 flipped bytes perturb few sampled pixels


def test_decode_image_both_codec_modes(spark, monkeypatch):
    """decode_image routes through PIL when importable and falls back to
    the deterministic stub when PIL is absent or the payload does not
    decode — features are identical across modes for opaque payloads."""
    payload = bytes(range(16))
    stub = multimodal.decode_image_stub(payload)

    # Mode 1: no PIL (the container's actual state) -> stub.
    monkeypatch.setattr(multimodal, "_PILImage", None)
    assert np.array_equal(multimodal.decode_image(payload), stub)

    # Mode 2: PIL present. Fake codec decodes payloads starting with
    # b'PIL' into a 2x2 gradient and rejects everything else.
    class FakeIm:
        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return False

        def convert(self, mode):
            assert mode == "L"
            return [[0, 85], [170, 255]]

    class FakePIL:
        @staticmethod
        def open(fh):
            if not fh.read(3) == b"PIL":
                raise OSError("cannot identify image file")
            return FakeIm()

    monkeypatch.setattr(multimodal, "_PILImage", FakePIL)
    decoded = multimodal.decode_image(b"PIL" + payload)
    assert decoded.shape == (2, 2) and decoded.dtype == np.uint8
    assert int(decoded.mean()) == 127
    # opaque payload -> decode error -> same stub result as mode 1
    assert np.array_equal(multimodal.decode_image(payload), stub)

    # The Spark path takes an explicit decoder (monkeypatching does not
    # reach the separate python worker process, so a real-codec swap is
    # expressed as a decoder argument — serialized by value into the
    # Arrow UDF) and the feature math is unchanged through it.
    def gradient_decoder(p: bytes) -> np.ndarray:
        return np.array([[0, 85], [170, 255]], dtype=np.uint8)

    media = spark.createDataFrame(
        [(1, "image", b"PIL" + payload, "img/png", 2, 2, None)],
        multimodal.MEDIA_SCHEMA,
    )
    row = multimodal.extract_image_features(media, decoder=gradient_decoder).collect()[0]
    assert (row.thumb_w, row.thumb_h) == (2, 2)
    assert row.mean_intensity == 127.5


def test_decode_image_real_png_fixture(spark):
    """r3 verdict item: the real-decoder branch had never run against
    real image bytes.  tests/fixtures/tiny_gray_4x4.png is a genuine
    85-byte grayscale PNG (pixel[r][c] = 16r + 4c, mean 30.0).  With
    PIL importable the PIL branch must reproduce those exact pixels;
    without PIL (this container) the stub branch must produce its
    deterministic byte-grid features — both pinned, whichever runs."""
    from pathlib import Path

    png = (Path(__file__).parent / "fixtures" / "tiny_gray_4x4.png").read_bytes()
    assert png[:8] == b"\x89PNG\r\n\x1a\n" and len(png) == 85

    # the stub interpretation of these bytes is fixed math either way:
    # side = floor(sqrt(85)) = 9 -> 9x9 grid over the first 81 bytes
    stub = multimodal.decode_image_stub(png)
    arr = np.frombuffer(png, dtype=np.uint8)
    assert stub.shape == (9, 9)
    assert np.array_equal(stub, arr[:81].reshape(9, 9))

    decoded = multimodal.decode_image(png)
    if multimodal._PILImage is not None:  # real-codec branch
        expected = np.array(
            [[16 * r + 4 * c for c in range(4)] for r in range(4)], dtype=np.uint8
        )
        assert np.array_equal(decoded, expected)
        expected_mean = 30.0
        expected_thumb = (4, 4)
    else:  # stub fallback branch (container state)
        assert np.array_equal(decoded, stub)
        expected_mean = float(stub.mean())
        expected_thumb = (8, 8)

    # end-to-end through the Arrow mapInPandas path with the default
    # (self-upgrading) decoder: exact features incl. branch-dependent mean
    media = spark.createDataFrame(
        [(7, "image", png, "image/png", 4, 4, None)], multimodal.MEDIA_SCHEMA
    )
    row = multimodal.extract_image_features(media).collect()[0]
    assert row.n_bytes == 85
    assert row.payload_checksum == int(arr.sum())
    assert row.mean_intensity == pytest.approx(expected_mean)
    assert (row.thumb_w, row.thumb_h) == expected_thumb


def test_batch_score_values_and_nulls(spark):
    """Stand-in model scores are the exact rational logistic; null text
    scores null; model loads once per partition (loader counted via a
    partition-tagged model)."""
    from real_time_event_driven_data_pipeline_spark.operators.inference import (
        batch_score,
    )

    docs = spark.createDataFrame(
        [(1, "x" * 300), (2, "x" * 200), (3, None), (4, "")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.model_score for r in batch_score(docs).collect()}
    assert got[1] == pytest.approx(0.5)  # x=1 -> 1/2
    assert got[2] == 0.0
    assert got[3] is None
    assert got[4] == pytest.approx(-2.0 / 3.0)  # x=-2 -> -2/3

    # per-partition load: a loader that bakes a call-count into every
    # score shows exactly one load per non-empty partition
    def counting_loader():
        state = {"n": 0}

        def predict(texts):
            state["n"] += 1
            return [float(state["n"])] * len(texts)

        return predict

    many = spark.createDataFrame(
        [(i, "t") for i in range(40)], "doc_id long, text string"
    ).repartition(4)
    scores = [
        r.model_score
        for r in batch_score(many, make_model=counting_loader).collect()
    ]
    # every batch in a partition sees the SAME model instance; with 40
    # tiny rows each partition is one Arrow batch -> all scores 1.0
    assert set(scores) == {1.0}


def test_batch_score_custom_id_col(spark):
    """ADVICE r4: the output schema is built from id_col — a non-default
    id column keeps its name instead of coming back as 'doc_id'."""
    from real_time_event_driven_data_pipeline_spark.operators.inference import (
        batch_score,
    )

    vecs = spark.createDataFrame(
        [(7, "y" * 300)], "vec_id long, text string"
    )
    out = batch_score(vecs, id_col="vec_id")
    assert out.columns == ["vec_id", "model_score"]
    assert out.collect()[0]["vec_id"] == 7


def test_keyword_search_topk_hand_computed(spark):
    """Integer tf-idf on a 4-doc fixture, scores verified by hand:
    idf = 1e6 * (N+1) div (df+1); score = sum(tf * idf)."""
    from real_time_event_driven_data_pipeline_spark.operators.search import (
        keyword_search_topk,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta BETA"),   # case-folded
            (2, "beta gamma"),
            (3, "alpha, alpha; delta"),  # punctuation-split
            (4, "epsilon"),
        ],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(1, "alpha"), (1, "beta"), (2, "epsilon")], "query_id long, term string"
    )
    got = [
        (r.query_id, r.doc_id, r.score, r.rank)
        for r in keyword_search_topk(docs, queries, k=10)
        .orderBy("query_id", "rank")
        .collect()
    ]
    idf_ab = 1_000_000 * 5 // 3  # df(alpha)=df(beta)=2 -> 1666666
    idf_e = 1_000_000 * 5 // 2  # df(epsilon)=1 -> 2500000
    assert got == [
        (1, 1, 3 * idf_ab, 1),  # tf(alpha)=1 + tf(beta)=2
        (1, 3, 2 * idf_ab, 2),
        (1, 2, 1 * idf_ab, 3),
        (2, 4, idf_e, 1),
    ]

    # stop-term cap: max_df=1 drops alpha and beta (df=2) from scoring
    # entirely; epsilon (df=1) survives
    capped = [
        (r.query_id, r.doc_id)
        for r in keyword_search_topk(docs, queries, k=10, max_df=1).collect()
    ]
    assert capped == [(2, 4)]


def test_pii_scrub_on_dirty_fixture(spark):
    rows = [
        (1, "contact john.doe+x@example.co.uk for details"),
        (2, "server at 192.168.1.100 responded"),
        (3, "call +1 (555) 123-4567 or 555 987 6543 today"),
        (4, "a@b.io then 10.0.0.1 then 555-000-1111 2222"),
        (5, "nothing sensitive here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in text.scrub_pii(df).collect()}
    assert got[1].clean_text == "contact <EMAIL> for details"
    assert (got[1].n_emails, got[1].n_ips, got[1].n_phones) == (1, 0, 0)
    assert got[2].clean_text == "server at <IP> responded"
    assert (got[2].n_emails, got[2].n_ips, got[2].n_phones) == (0, 1, 0)
    assert got[3].clean_text == "call <PHONE> or <PHONE> today"
    assert got[3].n_phones == 2
    assert got[4].clean_text == "<EMAIL> then <IP> then <PHONE>"
    assert (got[4].n_emails, got[4].n_ips, got[4].n_phones) == (1, 1, 1)
    assert got[5].clean_text == "nothing sensitive here"
    assert (got[5].n_emails, got[5].n_ips, got[5].n_phones) == (0, 0, 0)


def test_train_split_stable_and_plausible(spark, docs):
    a = {r.doc_id: r.split for r in text.train_split(docs).collect()}
    b = {r.doc_id: r.split for r in text.train_split(docs).collect()}
    assert a == b  # keyed on id: re-runs never move a doc
    from collections import Counter

    c = Counter(a.values())
    n = sum(c.values())
    # 80/10/10 within generous tolerance at 500 docs
    assert 0.7 < c["train"] / n < 0.9
    assert 0.04 < c["val"] / n < 0.16
    assert 0.04 < c["test"] / n < 0.16


def test_embedding_pairs_block_invariant(spark, emb):
    """The triangle-blocked self-join must emit the identical pair set
    (and bit-identical cosines) for any block count — each unordered
    pair is owned by exactly one block-pair task."""
    base = {
        (r.id_a, r.id_b): r.cos_sim
        for r in similarity.embedding_similar_pairs(emb, threshold=0.45, n_blocks=1).collect()
    }
    assert base, "fixture should contain similar pairs at t=0.45"
    for nb in (3, 8):
        got = {
            (r.id_a, r.id_b): r.cos_sim
            for r in similarity.embedding_similar_pairs(
                emb, threshold=0.45, n_blocks=nb
            ).collect()
        }
        assert got == base, f"n_blocks={nb} changed the result"


def test_embedding_pairs_no_driver_collect(spark, emb, monkeypatch):
    """Scale guard: the exact-pairs path must never materialize the
    corpus on the driver (VERDICT r1 flagged a toPandas()+broadcast).
    Poison every driver-side materialization route and run the query."""
    from pyspark.sql import DataFrame

    def _boom(self, *a, **k):  # noqa: ANN001
        raise AssertionError("driver-side collect in embedding_similar_pairs")

    monkeypatch.setattr(DataFrame, "toPandas", _boom)
    monkeypatch.setattr(DataFrame, "collect", _boom)
    out = similarity.embedding_similar_pairs(emb, threshold=0.45, n_blocks=4)
    monkeypatch.undo()
    assert out.count() > 0


def test_ivf_training_bounded_sample(spark, emb):
    """max_rows caps the driver-side materialization; centroids stay
    deterministic and the cap path produces usable cells."""
    cent = similarity.train_ivf_centroids(emb, n_centroids=8, max_rows=200)
    assert cent.shape[0] == 8
    # unit-norm centroids
    norms = np.sqrt((cent * cent).sum(axis=1))
    assert np.allclose(norms, 1.0)


def test_doc_chunks_covers_all_tokens_no_phantom_tail(spark):
    rows = [
        (1, " ".join(f"t{i}" for i in range(100))),  # tail chunk 49..100
        (2, " ".join(f"t{i}" for i in range(64))),   # exactly one window
        (3, " ".join(f"t{i}" for i in range(10))),   # short doc, one chunk
        (4, "one"),
        (5, ""),                                     # empty -> no chunks
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id, r.chunk_idx): (r.n_chunk_tokens, r.chunk_text)
        for r in text.doc_chunks(df, chunk_tokens=64, overlap=16).collect()
    }
    # doc1: starts 1 and 49 (97 dropped: 97+16 > 100)
    assert {k for k in got if k[0] == 1} == {(1, 0), (1, 1)}
    assert got[(1, 0)][0] == 64 and got[(1, 1)][0] == 52
    assert got[(1, 1)][1].split()[0] == "t48"  # start 49, 1-based
    # last token appears in the tail chunk (nothing lost to the trainer)
    assert got[(1, 1)][1].split()[-1] == "t99"
    # doc2: exactly one window, no phantom overlap-only second chunk
    assert {k for k in got if k[0] == 2} == {(2, 0)}
    # short docs: single partial chunk
    assert got[(3, 0)][0] == 10
    assert got[(4, 0)] == (1, "one")
    # empty text: split("") == [""] in both Spark and DuckDB (the
    # module-wide token semantics), so one 1-"token" empty chunk
    assert got[(5, 0)] == (1, "")
    # overlap: chunk i+1 repeats the last 16 tokens of chunk i
    assert got[(1, 0)][1].split()[-16:] == got[(1, 1)][1].split()[:16]


def test_hashed_embeddings_sparse_dense_agree_and_shuffle_free(spark, docs):
    dim = 32
    sparse = {
        (r.doc_id, r.bucket): r.weight
        for r in text.hashed_embedding_weights(docs, dim=dim).collect()
    }
    dense = {r.doc_id: r.embedding for r in text.hashed_embeddings(docs, dim=dim).collect()}
    assert set(d for d, _ in sparse) == set(dense)
    for (d, b), w in sparse.items():
        assert dense[d][b] == float(w)
    for d, vec in dense.items():
        assert len(vec) == dim
        # every non-zero entry is backed by a sparse row
        for b, v in enumerate(vec):
            if v != 0.0:
                assert sparse[(d, b)] == v
    # identical text -> identical vector (exact dups stay exact dups)
    two = spark.createDataFrame(
        [(1, "spark scan filter"), (2, "spark scan filter")], "doc_id long, text string"
    )
    va, vb = [r.embedding for r in text.hashed_embeddings(two, dim=dim).orderBy("doc_id").collect()]
    assert va == vb and any(v != 0 for v in va)

    # the dense path is embarrassingly parallel: the only exchange
    # allowed is the load-time small-input fanout (readers._fanout_small,
    # a REPARTITION_BY_NUM on doc_id; local-only, absent at scale) —
    # the embedding math itself never shuffles
    plan = (
        text.hashed_embeddings(docs, dim=dim)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert all("REPARTITION_BY_NUM" in ln for ln in exchanges), exchanges
    assert "InPandas" not in plan and "PythonUDF" not in plan


def test_stratified_sample_consistent_and_monotone(spark, docs):
    rates = {"src0": 1.0, "src1": 0.5, "src2": 0.25}
    a = {r.doc_id for r in text.stratified_sample(docs, rates, default_rate=0.1).collect()}
    b = {r.doc_id for r in text.stratified_sample(docs, rates, default_rate=0.1).collect()}
    assert a == b  # deterministic
    # raising a rate only ever adds documents (incremental-arrival safety)
    bigger = {r.doc_id for r in text.stratified_sample(
        docs, {"src0": 1.0, "src1": 0.8, "src2": 0.25}, default_rate=0.1
    ).collect()}
    assert a <= bigger
    # src0 kept whole
    n_src0 = docs.filter(F.col("source") == "src0").count()
    kept_src0 = text.stratified_sample(docs, rates, default_rate=0.1).filter(
        F.col("source") == "src0"
    ).count()
    assert kept_src0 == n_src0


def test_repetition_stats_flags_boilerplate(spark):
    rows = [
        (1, "line\nline\nline\nunique"),              # 4 lines, 2 distinct
        (2, "buy now buy now buy now buy now"),       # dominated bigram
        (3, "all words here are fully distinct ok"),  # clean
        (4, "single"),                                # 1 token, no bigrams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in text.repetition_stats(df).collect()}
    assert got[1].dup_line_ratio == 0.5
    # "buy now"×4 + "now buy"×3 over 7 bigrams
    assert abs(got[2].top_bigram_ratio - 4 / 7) < 1e-12
    assert got[3].dup_line_ratio == 0.0
    assert abs(got[3].top_bigram_ratio - 1 / 6) < 1e-12  # all bigrams unique
    assert got[4].top_bigram_ratio == 0.0


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n_tokens=st.integers(min_value=1, max_value=300),
    chunk=st.integers(min_value=2, max_value=64),
    data=st.data(),
)
def test_doc_chunks_coverage_properties(spark, n_tokens, chunk, data):
    """For any (n, chunk_size, overlap): chunks cover every token, in
    order, with exactly `overlap` repeated tokens between neighbors
    (less only at the final short chunk), and concatenating the
    non-overlap parts reconstructs the document."""
    overlap = data.draw(st.integers(min_value=0, max_value=chunk - 1))
    words = [f"w{i}" for i in range(n_tokens)]
    df = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
    rows = sorted(
        text.doc_chunks(df, chunk_tokens=chunk, overlap=overlap).collect(),
        key=lambda r: r.chunk_idx,
    )
    step = chunk - overlap
    rebuilt = []
    for i, r in enumerate(rows):
        ctoks = r.chunk_text.split()
        assert len(ctoks) == r.n_chunk_tokens <= chunk
        assert ctoks == words[i * step : i * step + len(ctoks)]  # in-order window
        rebuilt.extend(ctoks if i == 0 else ctoks[overlap:])
    assert rebuilt == words  # full coverage, no loss, no phantom tail


def test_winnowing_detects_partial_overlap(spark):
    shared = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, "intro words here " + shared + " closing remarks"),
        (2, shared + " completely different ending text follows now"),
        (3, "totally unrelated content with zero overlapping runs present"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {i: set() for i, _ in rows}
    for r in text.winnowing_fingerprints(df).collect():
        fps[r.doc_id].add(r.fp)
    # winnowing guarantee: a shared run of >= k+window-1 tokens shares
    # at least one selected fingerprint
    assert fps[1] & fps[2], "shared 12-token run produced no common fingerprint"
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])
    # determinism
    again = {i: set() for i, _ in rows}
    for r in text.winnowing_fingerprints(df).collect():
        again[r.doc_id].add(r.fp)
    assert again == fps


def test_incremental_near_dups_equals_full_restricted(spark, docs):
    """The arrival-time dedup gate must find exactly the full-corpus
    near-dup pairs that involve at least one new document."""
    existing = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    full = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    new_ids = {r.doc_id for r in new.select("doc_id").collect()}
    want = {
        p: j for p, j in full.items() if p[0] in new_ids or p[1] in new_ids
    }
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.incremental_near_dup_pairs(
            existing, new, threshold=0.5
        ).collect()
    }
    assert got == want
    assert want, "fixture split should leave near-dup pairs touching new docs"
    # pure existing-existing pairs are excluded by construction
    assert all(a in new_ids or b in new_ids for a, b in got)

    # empty arrival -> empty result
    assert (
        dedup.incremental_near_dup_pairs(
            docs, new.limit(0), threshold=0.5
        ).count()
        == 0
    )


def test_indexed_incremental_near_dups_equals_text_path(spark, docs):
    """The posting-index variant (history as doc_postings rows, no text
    re-read) must produce the identical pair set and jaccard values."""
    existing = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    via_text = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.incremental_near_dup_pairs(existing, new, threshold=0.5).collect()
    }
    posts = dedup.doc_postings(existing)
    via_index = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.incremental_near_dup_pairs_indexed(
            posts, new, threshold=0.5
        ).collect()
    }
    assert via_index == via_text
    assert via_text  # non-vacuous


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    data=st.lists(
        st.lists(st.integers(min_value=0, max_value=7), min_size=5, max_size=12),
        min_size=2,
        max_size=14,
    ),
    cut=st.integers(min_value=1, max_value=13),
    cap=st.sampled_from([None, 3]),
)
def test_indexed_gate_probed_restriction_property(spark, data, cut, cap):
    """Property behind the round-9 probed-keys restriction: for ANY
    corpus/split (tiny vocab forces heavy shingle sharing) and with or
    without the stop-shingle cap, the posting-index gate — which now
    semi-joins history postings to the batch's shingle set before the
    PPJoin df aggregate / prefix window — equals the text-side gate
    exactly.  The exactness argument (probed shingles keep every row,
    so df counts and the cap are unchanged; prefix positions only
    shift earlier) must hold on adversarial inputs, not just the
    driver fixture."""
    cut = min(cut, len(data) - 1)
    rows = [(i, " ".join(f"t{t}" for t in toks)) for i, toks in enumerate(data)]
    docs_df = spark.createDataFrame(rows, "doc_id long, text string")
    existing = docs_df.filter(F.col("doc_id") < cut)
    new = docs_df.filter(F.col("doc_id") >= cut)
    via_text = {
        (r.id_a, r.id_b): round(r.jaccard, 12)
        for r in dedup.incremental_near_dup_pairs(
            existing, new, threshold=0.5, max_shingle_df=cap
        ).collect()
    }
    via_index = {
        (r.id_a, r.id_b): round(r.jaccard, 12)
        for r in dedup.incremental_near_dup_pairs_indexed(
            dedup.doc_postings(existing),
            new,
            threshold=0.5,
            max_shingle_df=cap,
        ).collect()
    }
    assert via_index == via_text


def test_hard_negative_topk_excludes_same_and_null_labels(spark):
    """Hard negatives: only DIFFERENT-label vectors rank; same-label and
    null-label rows are excluded on either side (SQL <> three-valued
    logic); order is (cos_sim desc, vec_id)."""
    rows = [
        # anchor: label 0, pointing at +x
        (0, [1.0, 0.0], 0),
        # same label, nearly identical -> must NOT appear
        (1, [0.99, 0.1], 0),
        # different label, decreasing similarity
        (2, [0.9, 0.1], 1),
        (3, [0.5, 0.5], 1),
        (4, [0.0, 1.0], 2),
        # null label -> excluded
        (5, [1.0, 0.01], None),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    anchors = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "label", "embedding"
    )
    got = similarity.hard_negative_topk(emb, anchors, k=2).orderBy("rank").collect()
    assert [(r.vec_id, r.neg_label, r.rank) for r in got] == [(2, 1, 1), (3, 1, 2)]
    assert got[0].cos_sim > got[1].cos_sim

    # a null-label anchor gets no negatives at all
    null_anchor = spark.createDataFrame(
        [(9, None, [1.0, 0.0])], "query_id long, label int, embedding array<float>"
    )
    assert similarity.hard_negative_topk(emb, null_anchor, k=2).count() == 0


def test_documents_corpus_is_ascii_and_nonempty(spark):
    """Oracle precondition for the dHash image family (r6, ADVICE): the
    DuckDB oracle indexes CHARACTERS (ord(text[i])) while the Spark stub
    indexes UTF-8 BYTES — they agree iff the corpus is ASCII.  Pin that
    precondition at both test scales so a future non-ASCII (or empty)
    document fails loudly here instead of silently diverging the
    image_near_dups / multimodal_dup_clusters / video_near_dups oracles."""
    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        d = load_testdata(spark, sf_dir, "documents")["documents"]
        bad = d.filter(
            (F.octet_length(F.encode("text", "UTF-8")) != F.length("text"))
            | (F.length("text") == 0)
            | F.col("text").isNull()
        ).count()
        assert bad == 0, f"non-ASCII or empty documents in {sf_dir}"


def test_hamming_bucket_cap_bounds_pathological_buckets(spark):
    """r5 verdict item 2: a corpus of 10k constant images (all dHash 0)
    must not send the banded candidate join quadratic.  With
    max_bucket_df set the overflow buckets are dropped BEFORE the
    self-join (bounded candidates), planted near-dups among normal
    images still surface, and hamming_bucket_counts reports exactly the
    dropped buckets' membership so the recall loss is auditable."""
    import numpy as np

    from real_time_event_driven_data_pipeline_spark.operators import multimodal

    rng = np.random.default_rng(11)
    normal = [bytes(rng.integers(0, 256, 400).astype(np.uint8)) for _ in range(12)]
    near = bytearray(normal[0])
    near[3] = (near[3] + 90) % 256
    normal.append(bytes(near))  # id 12 ~ id 0
    flat = b"\x00" * 400  # constant image: dHash == 0
    rows = [(i, "image", p, None, None, None, None) for i, p in enumerate(normal)]
    rows += [
        (1000 + j, "image", flat, None, None, None, None) for j in range(10_000)
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)

    cap = 64
    got = {
        (r.media_id_a, r.media_id_b): r.hamming_dist
        for r in multimodal.image_near_dups(
            media, max_dist=3, max_bucket_df=cap
        ).collect()
    }
    # no pair involving a constant image survives (their buckets overflow
    # the cap -- the documented recall trade; exact-dedup gates them
    # upstream), and no quadratic blowup happened to produce them
    assert not any(a >= 1000 or b >= 1000 for a, b in got)
    # planted near-dup among NORMAL images still found (its buckets are
    # small), and the capped result equals the uncapped result on the
    # normal-only corpus
    normal_media = spark.createDataFrame(rows[:13], multimodal.MEDIA_SCHEMA)
    want = {
        (r.media_id_a, r.media_id_b): r.hamming_dist
        for r in multimodal.image_near_dups(normal_media, max_dist=3).collect()
    }
    assert got == want and any(b == 12 for _, b in got)

    # audit twin: overflow buckets are visible with their true membership
    from functools import reduce

    packed = reduce(
        lambda acc, i: acc.bitwiseOR(
            F.shiftleft(F.element_at("bands", i + 1).cast("long"), 8 * i)
        ),
        range(8),
        F.lit(0).cast("long"),
    )
    hashes = multimodal.image_dhash(media).select(packed.alias("h"))
    over = dedup.hamming_bucket_counts(hashes, "h", max_dist=3).filter(
        F.col("n_members") > cap
    )
    counts = [r.n_members for r in over.collect()]
    # every C(6,3)=20 block-triple key of the constant hash overflows;
    # normal images may share a few of those buckets
    assert len(counts) == 20 and all(c >= 10_000 for c in counts)


def test_simhash_bucket_cap_matches_uncapped_when_under_cap(spark, docs):
    """With no bucket above the cap the capped operator is the identity
    of the uncapped one (the oracle-parity guarantee)."""
    uncapped = {
        (r.id_a, r.id_b) for r in dedup.simhash_near_pairs(docs).collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in dedup.simhash_near_pairs(docs, max_bucket_df=10_000).collect()
    }
    assert capped == uncapped


def test_exact_substring_dedup_removes_planted_span(spark):
    """Lee et al.-style duplicated-span removal: a 6-token span planted
    verbatim in two otherwise-different documents is removed from BOTH
    (every position inside it sits in a cross-doc 5-gram), surrounding
    unique text survives, and an untouched doc passes through intact."""
    span = "the quick brown fox jumps high"
    rows = [
        (1, f"alpha beta {span} gamma delta"),
        (2, f"one two three {span} four"),
        (3, "totally unrelated words only here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in dedup.exact_substring_dedup(df, min_tokens=5).collect()}
    assert got[1].cleaned_text == "alpha beta gamma delta"
    assert got[2].cleaned_text == "one two three four"
    assert got[3].cleaned_text == "totally unrelated words only here"
    assert got[1].n_dup_tokens == 6 and got[2].n_dup_tokens == 6
    assert got[3].n_dup_tokens == 0
    assert got[1].n_tokens == 10 and got[1].dup_token_ratio == 6 / 10

    # a span shorter than min_tokens shared across docs is NOT removed
    short = spark.createDataFrame(
        [(1, "aa bb cc dd x y"), (2, "aa bb cc dd p q")], "doc_id long, text string"
    )
    got2 = {r.doc_id: r for r in dedup.exact_substring_dedup(short, min_tokens=5).collect()}
    assert got2[1].n_dup_tokens == 0 and got2[2].n_dup_tokens == 0


def test_video_near_dups_banded_equals_brute_force(spark):
    """Video-grain near-dup: banded per-frame candidates + MIN re-verify
    must equal the brute-force all-frame-pairs scan — including a
    planted byte-shifted copy (frame 2 of the copy == frame 0 of the
    original exactly, at DIFFERENT frame indices)."""
    import numpy as np

    from real_time_event_driven_data_pipeline_spark.operators import multimodal

    rng = np.random.default_rng(5)
    payloads = [bytes(rng.integers(0, 256, 300).astype(np.uint8)) for _ in range(8)]
    payloads.append(b"\x07\x09" + payloads[0])  # id 8: frame 2 == frame 0 of id 0
    durs = [3000] * len(payloads)
    rows = [
        (i, "video", p, None, None, None, d)
        for i, (p, d) in enumerate(zip(payloads, durs))
    ] + [(99, "image", b"\x01" * 64, None, None, None, None)]  # filtered out
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)

    def brute(max_dist):
        frames = {
            (v, i): multimodal.dhash_bands(multimodal.decode_image(p[i:]))
            for v, p in enumerate(payloads)
            for i in range(4)
        }
        best = {}
        for (va, ia), ha in frames.items():
            for (vb, ib), hb in frames.items():
                if va < vb:
                    d = sum(bin(x ^ y).count("1") for x, y in zip(ha, hb))
                    key = (va, vb)
                    best[key] = min(best.get(key, 99), d)
        return {k: v for k, v in best.items() if v <= max_dist}

    for max_dist in (3, 7):
        got = {
            (r.media_id_a, r.media_id_b): r.min_hamming
            for r in multimodal.video_near_dups(
                media, every_ms=1000, max_dist=max_dist
            ).collect()
        }
        assert got == brute(max_dist), f"max_dist={max_dist}"
        assert got[(0, 8)] == 0  # the planted shifted copy, at frame offset


def test_multi_arm_hamming_pairs_equals_per_arm(spark):
    """The shared-posting-exchange multi-arm core (r11, crossmodal) must
    emit exactly each arm's standalone pair set: media-grain arms equal
    ``hamming_near_dups_from_sig`` (banded self-join + dedup + filter),
    the frame-grain arm equals ``video_near_dups_from_sig`` (group-min)
    — for both the block-triple keys (max_dist 3) and the byte-band
    fallback (max_dist 7), with a planted exact dup and a planted
    byte-shifted video copy."""
    import numpy as np

    from real_time_event_driven_data_pipeline_spark.operators import multimodal

    rng = np.random.default_rng(7)
    payloads = [bytes(rng.integers(0, 256, 200).astype(np.uint8)) for _ in range(8)]
    payloads.append(payloads[0])  # id 8: exact dup of id 0 (every arm hits)
    payloads.append(b"\x02" + payloads[1])  # id 9: video frame 1 == id 1 frame 0
    media = spark.createDataFrame(
        [(i, p, 3000) for i, p in enumerate(payloads)],
        "media_id long, payload binary, duration_ms long",
    )
    sig = multimodal.multimodal_signatures(media, every_ms=1000).cache()
    arms = {
        "image": sig.select("media_id", F.col("image_h").alias("h")),
        "audio": sig.select("media_id", F.col("audio_h").alias("h")),
        "video": sig.select("media_id", F.explode("video_hs").alias("h")),
    }
    for max_dist in (3, 7):
        got = {
            (r.modality, r.media_id_a, r.media_id_b): r.min_hamming
            for r in multimodal.multi_arm_hamming_pairs(arms, max_dist).collect()
        }
        want = {}
        for mod in ("image", "audio"):
            for r in multimodal.hamming_near_dups_from_sig(
                arms[mod], max_dist
            ).collect():
                want[(mod, r.media_id_a, r.media_id_b)] = r.hamming_dist
        for r in multimodal.video_near_dups_from_sig(
            arms["video"], max_dist
        ).collect():
            want[("video", r.media_id_a, r.media_id_b)] = r.min_hamming
        assert got == want, f"max_dist={max_dist}"
        assert got[("image", 0, 8)] == 0 and got[("video", 1, 9)] == 0
    sig.unpersist()


def test_multi_arm_hamming_pairs_rejects_empty_arms():
    from real_time_event_driven_data_pipeline_spark.operators import multimodal

    with pytest.raises(ValueError, match="arms must be non-empty"):
        multimodal.multi_arm_hamming_pairs({})


def test_video_frame_dhash_clamps_to_payload_length(spark):
    """Duration alone must not drive frame count: suffix i >= n_bytes is
    empty, so every frame past byte n_bytes-1 would hash the identical
    1x1 black grid — a metadata-only long duration on a tiny payload
    emits at most n_bytes rows, and a zero-byte payload exactly one."""
    from real_time_event_driven_data_pipeline_spark.operators import multimodal

    rows = [
        (0, "video", b"\x01\x02\x03", None, None, None, 3_600_000),  # 1h "video"
        (1, "video", b"", None, None, None, 5_000),
        (2, "video", bytes(range(64)), None, None, None, 2_000),  # unclamped
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = multimodal.video_frame_dhash(media, every_ms=1000).collect()
    by_id: dict[int, list[int]] = {}
    for r in got:
        by_id.setdefault(r.media_id, []).append(r.frame_idx)
    assert sorted(by_id[0]) == [0, 1, 2]  # not 3601 degenerate rows
    assert sorted(by_id[1]) == [0]
    assert sorted(by_id[2]) == [0, 1, 2]  # duration-driven when payload is long


def test_multimodal_signatures_match_standalone_operators(spark):
    """The fused one-Arrow-pass signature operator must emit hashes
    bit-identical to the three standalone operators (packed image
    dHash, packed audio fingerprint, per-frame video dHashes in frame
    order) — that identity is what keeps the crossmodal oracle SQL
    valid after the query switched to the fused pass."""
    import numpy as np

    from pyspark.sql import functions as SF

    from real_time_event_driven_data_pipeline_spark.operators import multimodal

    rng = np.random.default_rng(11)
    payloads = [
        bytes(rng.integers(0, 256, n).astype(np.uint8)) for n in (300, 80, 5, 1)
    ] + [b""]
    rows = [(i, p, (i % 4) * 1000) for i, p in enumerate(payloads)]
    media = spark.createDataFrame(
        rows, "media_id long, payload binary, duration_ms long"
    )
    fused = {r.media_id: r for r in multimodal.multimodal_signatures(media).collect()}
    assert set(fused) == set(range(len(payloads)))

    def kinded(kind, dur=False):
        cols = [
            "media_id",
            SF.lit(kind).alias("kind"),
            "payload",
        ] + (["duration_ms"] if dur else [])
        return media.select(*cols)

    img = {r.media_id: r.h for r in multimodal.packed_dhash(kinded("image")).collect()}
    aud = {
        r.media_id: r.h
        for r in multimodal.audio_fingerprint(kinded("audio"))
        .select("media_id", multimodal._packed_dhash_col().alias("h"))
        .collect()
    }
    vid: dict[int, dict[int, int]] = {}
    for r in (
        multimodal.video_frame_dhash(kinded("video", dur=True), every_ms=1000)
        .select("media_id", "frame_idx", multimodal._packed_dhash_col().alias("h"))
        .collect()
    ):
        vid.setdefault(r.media_id, {})[r.frame_idx] = r.h

    for mid, row in fused.items():
        assert row.image_h == img[mid], mid
        assert row.audio_h == aud[mid], mid
        want_frames = [vid[mid][i] for i in sorted(vid[mid])]
        assert list(row.video_hs) == want_frames, mid


def test_audio_near_dups_banded_equals_brute_force(spark):
    """Audio spectral-stub near-dup: the banded pipeline must equal the
    brute-force all-pairs Hamming scan, including a planted payload
    with two bytes perturbed (small energy shift -> few flipped bits)
    and an exact copy."""
    import numpy as np

    from real_time_event_driven_data_pipeline_spark.operators import multimodal

    rng = np.random.default_rng(17)
    payloads = [bytes(rng.integers(0, 256, 320).astype(np.uint8)) for _ in range(15)]
    near = bytearray(payloads[0])
    near[7] = (near[7] + 3) % 256
    near[100] = (near[100] + 2) % 256
    payloads.append(bytes(near))  # id 15 ~ id 0
    payloads.append(payloads[1])  # id 16 == id 1
    rows = [
        (i, "audio", p, None, None, None, None) for i, p in enumerate(payloads)
    ] + [(99, "image", b"\x00" * 64, None, None, None, None)]  # filtered out
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)

    fps = {i: multimodal.audio_fingerprint_bands(p) for i, p in enumerate(payloads)}

    def brute(max_dist):
        want = {}
        for a in range(len(payloads)):
            for b in range(a + 1, len(payloads)):
                d = sum(bin(x ^ y).count("1") for x, y in zip(fps[a], fps[b]))
                if d <= max_dist:
                    want[(a, b)] = d
        return want

    for max_dist in (7, 3):
        got = {
            (r.media_id_a, r.media_id_b): r.hamming_dist
            for r in multimodal.audio_near_dups(media, max_dist=max_dist).collect()
        }
        assert got == brute(max_dist), f"max_dist={max_dist}"
        assert got[(1, 16)] == 0  # exact copy
    assert (0, 15) in brute(7)  # the perturbed copy is within radius


def test_exact_substring_rebuild_modes_identical(spark, docs):
    """The exploded (book-length) rebuild must be bit-identical to the
    in-row default — same counts, ratios, and cleaned text — on the
    real corpus and on a fully-covered document."""
    a = {r.doc_id: tuple(r) for r in dedup.exact_substring_dedup(docs).collect()}
    b = {
        r.doc_id: tuple(r)
        for r in dedup.exact_substring_dedup(docs, rebuild="exploded").collect()
    }
    assert a == b and len(a) > 0

    full = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f")], "doc_id long, text string"
    )
    fa = {r.doc_id: tuple(r) for r in dedup.exact_substring_dedup(full).collect()}
    fb = {
        r.doc_id: tuple(r)
        for r in dedup.exact_substring_dedup(full, rebuild="exploded").collect()
    }
    assert fa == fb and fa[1][-1] == ""  # fully covered -> empty cleaned text


def test_incremental_hamming_gate_generalizes_to_audio(spark):
    """The generalized arrival-time gate (round 7) must find exactly
    the batch audio near-dup pairs that involve a new record, reading
    history only through the hamming_postings sidecar — the same
    contract the image gate pins, demonstrated on a second modality."""
    import numpy as np

    from real_time_event_driven_data_pipeline_spark.operators import multimodal

    rng = np.random.default_rng(23)
    payloads = [bytes(rng.integers(0, 256, 320).astype(np.uint8)) for _ in range(10)]
    near = bytearray(payloads[0])
    near[7] = (near[7] + 3) % 256  # small energy shift -> few flipped bits
    new_payloads = [
        bytes(near),  # near-dup of history id 0
        payloads[1],  # exact dup of history id 1
        bytes(rng.integers(0, 256, 320).astype(np.uint8)),  # fresh
    ]

    def media(rows):
        return spark.createDataFrame(
            [(i, "audio", p, None, None, None, None) for i, p in rows],
            multimodal.MEDIA_SCHEMA,
        )

    def packed(rows):
        return multimodal.audio_fingerprint(media(rows)).select(
            "media_id", multimodal._packed_dhash_col().alias("h")
        )

    hist_rows = list(enumerate(payloads))
    new_rows = [(100 + j, p) for j, p in enumerate(new_payloads)]
    posting = multimodal.hamming_postings(packed(hist_rows), max_dist=3)
    got = {
        (r.media_id_a, r.media_id_b): r.hamming_dist
        for r in multimodal.incremental_hamming_near_dup_pairs(
            posting, packed(new_rows), max_dist=3
        ).collect()
    }

    fps = {i: multimodal.audio_fingerprint_bands(p) for i, p in hist_rows + new_rows}
    new_ids = {i for i, _ in new_rows}

    def ham(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(fps[a], fps[b]))

    want = {
        (a, b): ham(a, b)
        for a in fps
        for b in fps
        if a < b and (a in new_ids or b in new_ids) and ham(a, b) <= 3
    }
    assert got == want
    assert (0, 100) in want and (1, 101) in want  # planted pairs exercised
    # history-history pairs are NOT re-reported (0 and its own history)
    assert all(a in new_ids or b in new_ids for a, b in got)


def test_intra_doc_dedup_keeps_first_occurrence(spark):
    """scope='doc': a 5-token run repeated within ONE document keeps its
    first occurrence and loses the rest; cross-document repeats alone
    do NOT trigger it; both rebuild modes agree."""
    nav = "home about products contact login"
    rows = [
        # nav block repeated twice inside doc 1 -> second copy removed
        (1, f"{nav} real content here truly {nav}"),
        # doc 2 shares the nav with doc 1 but has only ONE copy -> kept
        (2, f"{nav} different body text entirely"),
        # doc 3: overlapping self-repeat "a a a a a a" (period 1)
        (3, "a a a a a a tail words here"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r
        for r in dedup.exact_substring_dedup(d, min_tokens=5, scope="doc").collect()
    }
    assert got[1].n_dup_tokens == 5
    assert got[1].cleaned_text == f"{nav} real content here truly"
    assert got[2].n_dup_tokens == 0
    assert got[2].cleaned_text == rows[1][1]
    # "a a a a a a": gram 'a a a a a' at pos 1 and 2; keep pos 1, cover
    # 2..6 -> only position 1 survives of the six a's
    assert got[3].cleaned_text == "a tail words here"
    # rebuild modes bit-identical in doc scope too
    expl = {
        r.doc_id: r
        for r in dedup.exact_substring_dedup(
            d, min_tokens=5, scope="doc", rebuild="exploded"
        ).collect()
    }
    for i in got:
        assert (got[i].n_dup_tokens, got[i].cleaned_text) == (
            expl[i].n_dup_tokens,
            expl[i].cleaned_text,
        )


def test_event_volume_anomaly_integer_flag(spark):
    """(n*x - S)^2 > 4*(n*Q - S^2) must flag exactly the |x - mu| >
    2*sigma days — pinned on hand-computed counts."""
    import datetime as dt

    import __spark_entry__ as ent

    from .conftest import SF_DIR

    # hand case: k identical baseline days + one outlier give the
    # outlier z^2 = (n*x-S)^2 / (n*Q-S^2) = k*(k+1-2)/(k+1-1)... with
    # k=4 the outlier lands at EXACTLY 2 sigma (boundary, strict > not
    # flagged — verified by hand: (nx-S)^2 = 41616 = 4*(nQ-S^2)); with
    # k=5 baseline [10 x5, 61]: n=6, S=111, Q=4221, nx-S=255,
    # 255^2=65025 > 4*(6*4221-111^2)=52020 -> FLAGGED, z ~ 2.236.
    counts = [10, 10, 10, 10, 10, 61]
    rows = []
    eid = 0
    for day, n in enumerate(counts, start=1):
        for _ in range(n):
            rows.append(
                (eid, dt.datetime(2026, 3, day, 12, 0, 0), 1, "probe", 1.0, "{}")
            )
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    daily = df.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("n_events").cast("long").alias("s"),
        F.sum(F.col("n_events") * F.col("n_events")).cast("long").alias("q"),
    )
    dev = F.col("n_days") * F.col("n_events") - F.col("s")
    out = (
        daily.join(stats, "event_type")
        .select(
            "day",
            "n_events",
            (dev * dev > 4 * (F.col("n_days") * F.col("q") - F.col("s") * F.col("s")))
            .cast("long")
            .alias("is_anomaly"),
        )
        .collect()
    )
    flags = {r.n_events: r.is_anomaly for r in out}
    assert flags[61] == 1 and flags[10] == 0
    # and the registered query runs with a stable schema on driver data
    cols = ent.queries()["event_volume_anomalies"](spark, SF_DIR).columns
    assert cols == ["event_type", "day", "n_events", "n_days", "dev_num", "is_anomaly"]


def test_semantic_dedup_lsh_matches_exact_on_testdata(spark, emb):
    """The 100 TB LSH composition (r7 verdict item 2) vs the exact
    triangle-blocked operator on the driver corpus: every true pair
    there sits at cos 0.45-0.48 — AT the threshold, the adversarial
    regime — and the 16x3 registered settings must still recover the
    full cluster set (theoretical recall ~0.995/pair)."""
    exact = {
        (r.vec_id, r.component, r.cluster_size)
        for r in similarity.semantic_dedup_clusters(emb, threshold=0.45).collect()
    }
    lsh = {
        (r.vec_id, r.component, r.cluster_size)
        for r in similarity.semantic_dedup_clusters_lsh(
            emb, dim=64, threshold=0.45, n_tables=16, n_planes=3
        ).collect()
    }
    assert exact, "fixture should contain semantic near-dups"
    assert lsh == exact


def test_gram_block_pairs_chunking_exact():
    """The bucket verifier's blk x blk slab chunking (r11, ADVICE r10)
    must emit exactly the brute-force pair set for ANY block size —
    including blocks that straddle the diagonal — re-scoring border
    cosines with the exact in-order fold, and must skip duplicate-id
    self-pairs (upstream contract violation; the per-pair verifier's
    strict id_a < id_b filter silently excluded them)."""
    import numpy as np

    from real_time_event_driven_data_pipeline_spark.operators.similarity import (
        _gram_block_pairs,
        _inorder_dot,
    )

    rng = np.random.default_rng(11)
    thr = 0.45
    n, dim = 23, 8
    V = rng.normal(size=(n, dim))
    # a deliberate near-threshold pair to exercise the border re-score
    V[5] = np.zeros(dim)
    V[5][0] = 1.0
    V[6] = np.zeros(dim)
    V[6][0] = thr
    V[6][1] = math.sqrt(1 - thr * thr)
    ids = np.arange(n, dtype=np.int64)

    def brute(ids, V):
        out = set()
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                if ids[i] == ids[j]:
                    continue
                a, b = V[i], V[j]
                c = float(a @ b) / math.sqrt(float(a @ a) * float(b @ b))
                if abs(c - thr) < 1e-9:
                    c = _inorder_dot(a, b) / math.sqrt(
                        _inorder_dot(a, a) * _inorder_dot(b, b)
                    )
                if c >= thr:
                    out.add((ids[i], ids[j]))
        return out

    expect = brute(ids, V)
    assert expect  # the construction must produce at least one pair
    for blk in (1, 3, 7, 2048):
        a, b = _gram_block_pairs(ids, V, thr, blk=blk)
        assert set(zip(a, b)) == expect, f"blk={blk}"

    # duplicate ids: identical vectors (cos = 1) under one id emit no
    # self-pair, but still pair with genuinely distinct near ids
    ids2 = np.array([1, 1, 2], dtype=np.int64)
    V2 = np.stack([V[0], V[0], V[0] + 1e-6])
    for blk in (1, 2048):
        a, b = _gram_block_pairs(ids2, V2, thr, blk=blk)
        got = set(zip(a, b))
        assert (1, 1) not in got and (1, 2) in got


def test_semantic_dedup_lsh_candidates_and_cap(spark, emb):
    """Candidate generation: (a) every verified pair must come from a
    shared bucket (candidates are a superset of the LSH output's
    pairs); (b) the max_bucket_size cap anti-drops pathological
    buckets without touching pairs that share any under-cap bucket."""
    cand = {
        (r.id_a, r.id_b)
        for r in similarity.lsh_dedup_candidates(
            emb, 64, n_tables=16, n_planes=3
        ).collect()
    }
    n = emb.count()
    assert 0 < len(cand) <= n * (n - 1) // 2
    # capping to 1 kills every multi-member bucket -> no candidates
    capped = similarity.lsh_dedup_candidates(
        emb, 64, n_tables=16, n_planes=3, max_bucket_size=1
    ).count()
    assert capped == 0


def test_lsh_plane_autosizing(spark, emb):
    """lsh_planes_for_corpus holds bucket occupancy ~constant (r8
    verdict item 4: the production sizing rule is code, not prose),
    n_planes=None routes both public operators through it, and a
    by-construction-dense explicit setting warns loudly."""
    import warnings

    f = similarity.lsh_planes_for_corpus
    assert f(50) == 3  # corpus fits one target bucket -> floor
    assert f(5_000) == 7  # ceil(log2(5000/64))
    assert f(1_000_000) == 14
    assert f(10**12) == 24  # capped
    assert f(10**9, target_bucket_size=128) == 23

    n = emb.count()
    auto = similarity.semantic_dedup_clusters_lsh(
        emb, dim=64, threshold=0.45, n_tables=16, n_planes=None
    )
    explicit = similarity.semantic_dedup_clusters_lsh(
        emb, dim=64, threshold=0.45, n_tables=16, n_planes=f(n)
    )
    assert sorted(map(tuple, auto.collect())) == sorted(
        map(tuple, explicit.collect())
    )

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        similarity.semantic_dedup_clusters_lsh(
            emb, dim=64, threshold=0.45, n_tables=16, n_planes=3
        )  # 16/2^3 = 2.0 best-case candidate fraction -> warn
        assert any("candidate fraction" in str(x.message) for x in w)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        similarity.semantic_dedup_clusters_lsh(
            emb, dim=64, threshold=0.45, n_tables=16, n_planes=8
        )  # 16/256 = 0.06 -> silent
        assert not any("candidate fraction" in str(x.message) for x in w)

    # the PUBLIC pair generator carries the identical hazard and must
    # warn just as consistently (ADVICE r9); allow_dense=True is the
    # deliberate-density acknowledgement (what the registered 16x3
    # driver query passes) and silences both operators
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        similarity.lsh_dedup_candidates(emb, 64, n_tables=16, n_planes=3)
        assert any("candidate fraction" in str(x.message) for x in w)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        similarity.lsh_dedup_candidates(
            emb, 64, n_tables=16, n_planes=3, allow_dense=True
        )
        similarity.semantic_dedup_clusters_lsh(
            emb, dim=64, threshold=0.45, n_tables=16, n_planes=3, allow_dense=True
        )
        assert not any("candidate fraction" in str(x.message) for x in w)


def test_semantic_dedup_lsh_no_driver_collect(spark, emb, monkeypatch):
    """Scale guard (same contract as the exact operator): building and
    running the LSH composition must never materialize the corpus on
    the driver.  The CC stage's bounded fast-path collect is gated OFF
    here by feeding the pair stage only — candidates + verification
    are the new code; CC's driver budget is audited separately."""
    from pyspark.sql import DataFrame

    def _boom(self, *a, **k):  # noqa: ANN001
        raise AssertionError("driver-side collect in lsh_dedup_candidates")

    monkeypatch.setattr(DataFrame, "toPandas", _boom)
    monkeypatch.setattr(DataFrame, "collect", _boom)
    out = similarity.lsh_dedup_candidates(emb, 64, n_tables=16, n_planes=3)
    monkeypatch.undo()
    assert out.count() > 0


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    data=st.lists(
        st.lists(
            st.sampled_from([-1.0, -0.5, 0.0, 0.5, 1.0]), min_size=3, max_size=3
        ),
        min_size=2,
        max_size=10,
    ),
    cut=st.integers(min_value=0, max_value=9),
    n_planes=st.sampled_from([0, 2]),
)
def test_incremental_embedding_gate_properties(spark, data, cut, n_planes):
    """Properties of the arrival-time embedding gate on adversarial
    inputs (the r9 probed-keys discipline, embedding instance):

    - SOUNDNESS at any plane count: every emitted pair is a true
      cosine >= threshold pair touching >= 1 new vector (the verify
      stage decides; the index only proposes).
    - COMPLETENESS at n_planes=0 (every vector in every table's single
      bucket — the index degenerates to exhaustive): the gate equals
      the exact all-pairs operator restricted to pairs touching a new
      vector, exercising the probed-keys restriction, the candidate
      least/greatest normalization, the ids-only broadcast pluck, and
      the boundary-rescored verification with no recall excuse."""
    cut = min(cut, len(data) - 1)
    # constant last dim: no zero vectors (cosine undefined), and
    # discrete coordinates force shared-bucket and boundary cases
    rows = [(i, v + [1.0]) for i, v in enumerate(data)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    existing = emb.filter(F.col("vec_id") < cut)
    new = emb.filter(F.col("vec_id") >= cut)
    new_ids = set(range(cut, len(data)))
    exact = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_similar_pairs(
            emb, threshold=0.5, n_blocks=2
        ).collect()
    }
    want = {p for p in exact if p[0] in new_ids or p[1] in new_ids}
    got = {
        (r.id_a, r.id_b)
        for r in similarity.incremental_embedding_near_dup_pairs(
            similarity.embedding_lsh_postings(
                existing, 4, n_tables=2, n_planes=n_planes
            ),
            existing,
            new,
            4,
            threshold=0.5,
            n_tables=2,
            n_planes=n_planes,
        ).collect()
    }
    assert got <= want  # soundness always
    if n_planes == 0:
        assert got == want  # completeness when the index is exhaustive
