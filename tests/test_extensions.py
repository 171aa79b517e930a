"""Invariant tests for the rows-only extension operators: LSH recall
vs exact ground truth, IVF recall vs brute force, sketch accuracy
(SURVEY §5.2; §2B-K oracle strategy).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from etl_pipeline_fresh_picked_leads_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from etl_pipeline_fresh_picked_leads_spark.operators.multimodal import (
    decode_image,
    extract_features,
    planted_image_bytes,
    with_planted_images,
)
from etl_pipeline_fresh_picked_leads_spark.operators.similarity import (
    cosine_topk,
    ivf_topk,
)
from etl_pipeline_fresh_picked_leads_spark.operators.text import language_id
from etl_pipeline_fresh_picked_leads_spark.sources.readers import read_table

from conftest import SF_MEDIUM


@pytest.fixture(scope="module")
def docs(spark):
    return read_table(spark, SF_MEDIUM, "documents")


@pytest.fixture(scope="module")
def embeddings(spark):
    return read_table(spark, SF_MEDIUM, "embeddings")


def _pairset(df):
    return {(r.doc_id_a, r.doc_id_b) for r in df.collect()}


def test_lsh_recall_vs_exact(docs):
    """LSH at tau=0.5 must find >=95% of the exact >=0.6 pairs (the
    8x2 banding gives ~0.97 theoretical recall at j=0.6, ~1.0 above
    0.8) and report no pair below its own threshold."""
    exact_06 = _pairset(
        ngram_jaccard_pairs(docs, threshold=0.6).select("doc_id_a", "doc_id_b")
    )
    lsh = minhash_lsh_pairs(docs, threshold=0.5)
    found = _pairset(lsh.select("doc_id_a", "doc_id_b"))
    assert exact_06, "corpus should contain planted near-dups"
    recall = len(exact_06 & found) / len(exact_06)
    assert recall >= 0.95, f"recall {recall} on {len(exact_06)} pairs"
    assert lsh.filter(F.col("jaccard") < 0.5).count() == 0


def test_lsh_deterministic(docs):
    a = _pairset(minhash_lsh_pairs(docs, 0.5).select("doc_id_a", "doc_id_b"))
    b = _pairset(minhash_lsh_pairs(docs, 0.5).select("doc_id_a", "doc_id_b"))
    assert a == b


def test_simhash_finds_exact_dup_clusters(docs):
    """Hamming<=3 simhash pairs must include every identical-text pair
    (hamming 0) and never pair docs with disjoint-ish shingles."""
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    hashed = docs.select("doc_id", F.md5(norm).alias("h"))
    a, b = hashed.alias("a"), hashed.alias("b")
    exact_dups = {
        (r.doc_id_a, r.doc_id_b)
        for r in a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .collect()
    }
    sim = simhash_pairs(docs, max_hamming=3)
    found = _pairset(sim.select("doc_id_a", "doc_id_b"))
    assert exact_dups <= found
    zero = sim.filter(F.col("hamming") == 0).count()
    assert zero >= len(exact_dups)


def test_ivf_recall_vs_exact(embeddings):
    exact = [r.vec_id for r in cosine_topk(embeddings, 0, k=10).collect()]
    approx = [r.vec_id for r in ivf_topk(embeddings, 0, k=10, nlist=16, nprobe=4).collect()]
    overlap = len(set(exact) & set(approx)) / 10
    # seeded spherical k-means centroids: recall@10 must clear 0.9 at
    # nprobe=4/nlist=16 (round-1 verdict item 4 done-criterion)
    assert overlap >= 0.9, f"IVF recall {overlap}"
    # full probe must equal exact (sanity: IVF degenerates correctly)
    full = [r.vec_id for r in ivf_topk(embeddings, 0, k=10, nlist=16, nprobe=16).collect()]
    assert full == exact


def test_cosine_self_join_is_distributed(embeddings):
    """The exact all-pairs join must never materialize the corpus on
    the driver (round-1 verdict item 3): the plan is a cogrouped
    Pandas gemm over hash tiles, and the operator source contains no
    collect().  Small tiles force the multi-tile path and must agree
    with the single-tile result."""
    import inspect

    from etl_pipeline_fresh_picked_leads_spark.operators import similarity

    src = inspect.getsource(similarity.cosine_self_join)
    assert ".collect()" not in src and "sc.broadcast" not in src

    joined = similarity.cosine_self_join(embeddings, threshold=0.4)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan
    assert "CollectLimit" not in plan

    def pairs(tile_rows):
        return {
            (r.vec_id_a, r.vec_id_b)
            for r in similarity.cosine_self_join(
                embeddings, 0.4, tile_rows=tile_rows
            ).collect()
        }

    one_tile = pairs(1 << 20)
    many_tiles = pairs(97)
    assert one_tile == many_tiles and len(one_tile) > 0


def test_approx_count_distinct_error(spark):
    e = read_table(spark, SF_MEDIUM, "events")
    got = (
        e.agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("a"),
            F.countDistinct("user_id").alias("x"),
        )
        .collect()[0]
    )
    assert abs(got.a - got.x) / got.x <= 0.05


def test_language_id_runs_and_is_deterministic(docs):
    out1 = language_id(docs).orderBy("doc_id").collect()
    out2 = language_id(docs).orderBy("doc_id").collect()
    assert out1 == out2
    assert all(r.lang_pred in {"en", "es", "de", "fr", "und"} for r in out1)


def test_decode_image_ppm_known_pixels():
    # 2x2 P6, pixels hand-written: mean over 12 raster bytes
    raster = bytes([0, 0, 0, 255, 255, 255, 10, 20, 30, 40, 50, 60])
    img = b"P6\n# a comment\n2 2\n255\n" + raster
    f = decode_image(img)
    assert (f["width"], f["height"], f["channels"]) == (2, 2, 3)
    assert f["mean_byte"] == sum(raster) // len(raster)


def test_decode_image_pgm_gray():
    img = b"P5\n3 1\n255\n" + bytes([10, 20, 33])
    f = decode_image(img)
    assert (f["width"], f["height"], f["channels"]) == (3, 1, 1)
    assert f["mean_byte"] == (10 + 20 + 33) // 3


def test_decode_image_bmp_padding_excluded():
    # 1x2 24-bpp BMP: stride pads each 3-byte row to 4; padding bytes
    # must NOT leak into the mean
    import struct as _struct

    rows = bytes([100, 110, 120, 0xFF]) + bytes([10, 20, 30, 0xFF])
    header = _struct.pack("<2sIHHI", b"BM", 54 + len(rows), 0, 0, 54)
    dib = _struct.pack("<IiiHHIIiiII", 40, 1, 2, 1, 24, 0, len(rows), 0, 0, 0, 0)
    f = decode_image(header + dib + rows)
    assert (f["width"], f["height"], f["channels"]) == (1, 2, 3)
    assert f["mean_byte"] == (100 + 110 + 120 + 10 + 20 + 30) // 6


def test_decode_image_rejects_compressed_formats():
    for payload in (b"\x89PNG\r\n\x1a\n....", b"\xff\xd8\xff\xe0JFIF", b""):
        with pytest.raises(ValueError):
            decode_image(payload)


def test_planted_images_are_real_files():
    # the planted bytes decode standalone, matching the generator's
    # declared geometry for both formats
    for doc_id in (0, 1, 6, 13):
        f = decode_image(planted_image_bytes(doc_id))
        assert f["width"] == 8 + (doc_id % 24)
        assert f["height"] == 8 + ((doc_id * 7) % 24)
        assert f["channels"] == 3


def test_multimodal_feature_plumbing(docs):
    feats = extract_features(with_planted_images(docs))
    rows = feats.collect()
    assert len(rows) == docs.count()  # 1:1 row alignment
    assert all(r.decode_ok for r in rows)
    # features computed from ACTUAL bytes: spot-check against a
    # driver-side decode of the same deterministic payload
    by_id = {r.doc_id: r for r in rows}
    for doc_id in list(by_id)[:5]:
        f = decode_image(planted_image_bytes(doc_id))
        r = by_id[doc_id]
        assert (r.width, r.height, r.channels, r.mean_byte) == (
            f["width"], f["height"], f["channels"], f["mean_byte"]
        )
    assert all(r.resize_bucket == "128x128" for r in rows)  # all < 256px


def test_extract_features_isolates_bad_payloads(spark):
    payloads = spark.createDataFrame(
        [(1, bytearray(planted_image_bytes(1))), (2, bytearray(b"not an image"))],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in extract_features(payloads).collect()}
    assert rows[1].decode_ok and rows[1].width == 9
    assert not rows[2].decode_ok and rows[2].width is None


# ------------------------------------------ round-2 pipeline additions ----


def test_ivf_self_join_recall_vs_exact(embeddings):
    """IVF-pruned threshold join must recover >=90% of the exact
    blocked-matmul pairs at tau=0.4 (replicas=4 multi-assignment; a
    missed pair means neither endpoint shared any of its 4 cells) and
    report no pair below its own threshold."""
    from etl_pipeline_fresh_picked_leads_spark.operators.similarity import (
        cosine_self_join,
        ivf_self_join,
    )

    exact = {
        (r.vec_id_a, r.vec_id_b)
        for r in cosine_self_join(embeddings, threshold=0.4).collect()
    }
    approx_df = ivf_self_join(embeddings, threshold=0.4)
    approx = {(r.vec_id_a, r.vec_id_b) for r in approx_df.collect()}
    assert exact, "corpus should contain pairs above the threshold"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"IVF join recall {recall} on {len(exact)} pairs"
    assert approx <= exact  # verify step is exact: no false positives
    assert approx_df.filter(F.col("cosine") < 0.4).count() == 0


def test_srp_lsh_self_join_recall_and_purity(spark, embeddings):
    """Hyperplane (SRP) LSH near-dup join: on the corpus + planted
    0.9-boundary clones it must recover >=80% of the exact pairs
    (seeded planes -> deterministic), emit no false positives (exact
    verify on candidates), and never report a pair below threshold.
    pins=None must not leak the signature cache."""
    from etl_pipeline_fresh_picked_leads_spark.operators.similarity import (
        cosine_self_join,
        srp_lsh_self_join,
    )

    base = embeddings.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    clones = base.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * 0.9 + 0.05).alias(
            "embedding"
        ),
    )
    corpus = base.unionByName(clones)
    exact = {
        (r.vec_id_a, r.vec_id_b)
        for r in cosine_self_join(corpus, threshold=0.9).collect()
    }
    assert exact, "planted clones should produce >=0.9 pairs"

    n_before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    lsh_df = srp_lsh_self_join(corpus, threshold=0.9)
    lsh = {(r.vec_id_a, r.vec_id_b) for r in lsh_df.collect()}
    n_after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert n_after - n_before <= 1, "pins=None leaked the signature cache"

    assert lsh <= exact  # exact verify: no false positives
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.8, f"SRP-LSH recall {recall} on {len(exact)} pairs"
    assert lsh_df.filter(F.col("cosine") < 0.9).count() == 0

    # empty input degrades to an empty frame, not an error
    assert srp_lsh_self_join(corpus.filter(F.lit(False))).count() == 0


def test_similarity_join_auto_routes_and_matches(spark, embeddings):
    """The cost-based router (SURVEY §4.3's similarity_join rule,
    Spark-idiomatic form): under the default cap the corpus routes
    'exact' and the routed frame IS the exact pair set; a cap below
    the estimated blocked-matmul shuffle routes 'ivf' and the routed
    frame obeys the IVF family's recall/no-false-positive contract.
    pins=None on the IVF route must not leak the assignment cache."""
    from etl_pipeline_fresh_picked_leads_spark.operators.similarity import (
        cosine_self_join,
        similarity_join_auto,
    )

    exact = {
        (r.vec_id_a, r.vec_id_b, r.cosine)
        for r in cosine_self_join(embeddings, threshold=0.4).collect()
    }

    routed_df, route = similarity_join_auto(embeddings, threshold=0.4)
    assert route == "exact"
    routed = {
        (r.vec_id_a, r.vec_id_b, r.cosine) for r in routed_df.collect()
    }
    assert routed == exact and len(exact) > 0

    # a catalog-provided n skips the count pre-pass but must make the
    # same decision from the same statistic
    _, route_n = similarity_join_auto(
        embeddings, threshold=0.4, n=embeddings.count()
    )
    assert route_n == "exact"

    n_before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    ivf_df, route_ivf = similarity_join_auto(
        embeddings, threshold=0.4, exact_cap=1
    )
    assert route_ivf == "ivf"
    ivf_pairs = {(r.vec_id_a, r.vec_id_b) for r in ivf_df.collect()}
    exact_keys = {(a, b) for a, b, _ in exact}
    assert ivf_pairs <= exact_keys  # exact verify: no false positives
    assert len(ivf_pairs & exact_keys) / len(exact_keys) >= 0.9
    n_after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    # only the result-sized localCheckpoint may persist (ADVICE r7)
    assert n_after - n_before <= 1, "pins=None leaked the IVF cache"


def test_dedup_clusters_invariants(docs):
    """Connected components over the ngram pair graph: every pair's
    endpoints share a cluster, cluster_id is the min doc_id of its
    members, exactly one canonical doc per cluster, and docs without
    any pair are singletons."""
    from etl_pipeline_fresh_picked_leads_spark.operators.graph import (
        dedup_clusters,
    )

    pairs = ngram_jaccard_pairs(docs, threshold=0.35)
    out = dedup_clusters(docs, pairs)
    rows = {r.doc_id: r for r in out.collect()}
    n_docs = docs.count()
    assert len(rows) == n_docs  # total assignment, singletons included

    edge_list = [(r.doc_id_a, r.doc_id_b) for r in pairs.collect()]
    assert edge_list, "corpus should contain near-dup pairs"
    for a, b in edge_list:
        assert rows[a].cluster_id == rows[b].cluster_id

    by_cluster: dict[int, list] = {}
    for r in rows.values():
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        assert cid == min(m.doc_id for m in members)
        assert sum(m.is_canonical for m in members) == 1
        assert all(m.cluster_size == len(members) for m in members)

    linked = {d for e in edge_list for d in e}
    singletons = [r for r in rows.values() if r.doc_id not in linked]
    assert all(r.cluster_size == 1 and r.is_canonical for r in singletons)


def test_connected_components_chain_converges(spark):
    """A 12-vertex path graph (worst diameter per vertex count) must
    still converge to a single component."""
    from etl_pipeline_fresh_picked_leads_spark.operators.graph import (
        connected_components,
    )

    verts = spark.range(12).withColumnRenamed("id", "id")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "src long, dst long"
    )
    out = connected_components(verts, edges)
    assert {r.component for r in out.collect()} == {0}


def test_redact_pii_scrubs_planted_contacts(spark):
    from etl_pipeline_fresh_picked_leads_spark.operators.text import (
        redact_pii,
    )

    df = spark.createDataFrame(
        [
            (1, "ping alice.smith+leads@corp.example.org today"),
            (2, "call +1 (415) 555-0199 or 415-555-0142 now"),
            (3, "mixed bob@x.io and +44 20 7946 0958 here"),
            (4, "clean text with no contact data at all"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in redact_pii(df).collect()}
    assert out[1].n_emails == 1 and "<EMAIL>" in out[1].text_redacted
    assert "@" not in out[1].text_redacted
    assert out[2].n_phones == 2 and out[2].text_redacted.count("<PHONE>") == 2
    assert out[3].n_emails == 1 and out[3].n_phones == 1
    assert out[4].text_redacted == "clean text with no contact data at all"
    assert out[4].n_emails == 0 and out[4].n_phones == 0


def test_repetition_signals_hand_checked(spark):
    from etl_pipeline_fresh_picked_leads_spark.operators.text import (
        repetition_signals,
    )

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),  # bigrams: 3x "spam spam"
            (2, "all words differ here"),  # 3 distinct bigrams
            (3, "one"),  # no bigram -> excluded
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repetition_signals(df).collect()}
    assert set(out) == {1, 2}
    assert out[1].n_bigrams == 3
    assert out[1].top_bigram_frac == 1.0 and out[1].dup_bigram_frac == 1.0
    assert out[2].n_bigrams == 3
    assert out[2].top_bigram_frac == pytest.approx(1 / 3, abs=1e-6)
    assert out[2].dup_bigram_frac == 0.0


def test_decontaminate_hand_checked(spark):
    from etl_pipeline_fresh_picked_leads_spark.operators.dedup import decontaminate

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over dogs"),  # shares "the quick brown"
            (2, "completely disjoint wording entirely here"),
            (3, "the quick brown fox"),  # 2 grams, both contaminated
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "watch the quick brown fox run")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in decontaminate(train, ev, n=3).collect()}
    # doc 2 shares nothing -> absent (output-sensitive)
    assert set(out) == {1, 3}
    # doc 1: 5 grams, hits = "the quick brown" + "quick brown fox"
    assert out[1].n_grams == 5 and out[1].n_contaminated == 2
    assert out[1].contamination == pytest.approx(0.4, abs=1e-6)
    # doc 3: both of its grams appear in the eval doc
    assert out[3].n_grams == 2 and out[3].n_contaminated == 2
    assert out[3].contamination == pytest.approx(1.0, abs=1e-6)


def test_decontaminate_eval_side_broadcasts(spark):
    """The 100 TB contract: the eval gram set broadcasts; the train
    side must never shuffle against it (no SortMergeJoin).  Pinned on
    the OPERATOR (lazy plan): the registered query eagerly
    checkpoints to release its shingle caches (r7), which hides the
    join from the query-level plan."""
    from etl_pipeline_fresh_picked_leads_spark.operators.dedup import (
        decontaminate,
    )
    from etl_pipeline_fresh_picked_leads_spark.operators.sampling import (
        _hash01,
    )
    from etl_pipeline_fresh_picked_leads_spark.plans import formatted_plan
    from etl_pipeline_fresh_picked_leads_spark.queries import QUERIES
    from etl_pipeline_fresh_picked_leads_spark.sources.readers import (
        read_table,
    )

    docs = read_table(spark, SF_MEDIUM, "documents")
    is_eval = _hash01(F.col("doc_id")) < 0.1
    df = decontaminate(docs.filter(~is_eval), docs.filter(is_eval), n=3)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan
    # the registered (checkpointing) query still produces the rows
    assert QUERIES["q_text_decontaminate"](spark, SF_MEDIUM).count() > 0, (
        "corpus near-dups should span the hash split"
    )


def test_pack_chunks_invariants(docs):
    from etl_pipeline_fresh_picked_leads_spark.operators.sampling import (
        chunk_documents,
        pack_chunks,
    )

    budget, chunk = 256, 50
    packed = pack_chunks(
        chunk_documents(docs, chunk_tokens=chunk), budget=budget, n_buckets=8
    ).persist()
    totals = (
        packed.groupBy("bucket", "bin_id")
        .agg(F.sum("chunk_tokens").alias("total"))
        .collect()
    )
    # a bin overflows by at most one chunk (the window-cumsum bound)
    assert max(r.total for r in totals) <= budget + chunk - 1
    # bins are contiguous 0..max within each bucket (no gaps)
    by_bucket = {}
    for r in totals:
        by_bucket.setdefault(r.bucket, set()).add(r.bin_id)
    for bucket, bins in by_bucket.items():
        assert bins == set(range(max(bins) + 1)), (bucket, sorted(bins))
    # full-budget utilization: every non-final bin is within one chunk
    # of the budget (greedy-by-position never leaves a larger hole)
    for bucket, bins in by_bucket.items():
        finals = max(bins)
        for r in totals:
            if r.bucket == bucket and r.bin_id < finals:
                assert r.total > budget - chunk, (bucket, r.bin_id, r.total)


def test_sketch_rollup_accuracy_and_mergeability(spark):
    """HLL rollup: (a) merged-daily estimate equals the direct
    whole-column sketch (register-max associativity), (b) estimate
    within 5% of exact distinct per event_type."""
    from etl_pipeline_fresh_picked_leads_spark.queries import QUERIES
    from etl_pipeline_fresh_picked_leads_spark.sources.readers import read_table

    ev = read_table(spark, SF_MEDIUM, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    rolled = {
        r.event_type: r.m
        for r in daily.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("m"))
        .collect()
    }
    direct = {
        r.event_type: r.direct
        for r in ev.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("direct"))
        .collect()
    }
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert rolled == direct  # two-level merge == one-shot sketch
    for et, n in exact.items():
        assert abs(rolled[et] - n) / n < 0.05, (et, rolled[et], n)
    # the registered query emits the validation contract: exact counts
    # plus an all-true within-tolerance flag (the hash-gated shape)
    res = {
        r.event_type: (r.exact_users, r.within_5pct)
        for r in QUERIES["q_sketch_rollup"](spark, SF_MEDIUM).collect()
    }
    assert res == {et: (n, True) for et, n in exact.items()}


def test_dq_checks_count_planted_violations(spark):
    from etl_pipeline_fresh_picked_leads_spark.operators.dq import (
        check_foreign_key,
        check_not_null,
        check_predicate,
        check_unique,
        dq_report,
    )

    child = spark.createDataFrame(
        [(1, 10), (2, 99), (2, None), (3, 5)], "k int, q int"
    )
    parent = spark.createDataFrame([(1,), (2,)], "k int")
    rep = {
        r.check_name: r.n_violations
        for r in dq_report(
            [
                check_predicate(child, "q_range", F.col("q").between(1, 50)),
                check_unique(child, "k_unique", "k"),
                check_foreign_key(child, "k_fk", "k", parent, "k"),
                check_not_null(child, "q_not_null", "q"),
            ]
        ).collect()
    }
    # 99 out of range + NULL (unevaluable = failed) = 2; k=2 dup = 1;
    # k=3 orphaned = 1; one NULL q
    assert rep == {"q_range": 2, "k_unique": 1, "k_fk": 1, "q_not_null": 1}


# ------------------------------------------------ IVF centroid side index --


def test_ivf_fit_cached_across_calls_and_sessions(embeddings, monkeypatch, tmp_path):
    """VERDICT r2 #8: the k-means fit must run once per (corpus,
    params) — the second call hits the in-process cache, and a 'new
    session' (cleared in-process cache) reloads from the TxTable side
    index without refitting.  A mutated corpus changes the fingerprint
    and MUST refit."""
    from etl_pipeline_fresh_picked_leads_spark.operators import similarity as S

    monkeypatch.setattr(S, "_ivf_index_root", lambda: str(tmp_path / "ivf_index"))
    S._IVF_CENTER_CACHE.clear()
    before = S.IVF_FIT_COUNTER["fits"]

    r1 = S.ivf_topk(embeddings, 0, k=5, nlist=8, nprobe=4).collect()
    assert S.IVF_FIT_COUNTER["fits"] == before + 1

    r2 = S.ivf_topk(embeddings, 0, k=5, nlist=8, nprobe=4).collect()
    assert S.IVF_FIT_COUNTER["fits"] == before + 1  # in-process hit
    assert r1 == r2

    S._IVF_CENTER_CACHE.clear()  # simulate a fresh session
    r3 = S.ivf_topk(embeddings, 0, k=5, nlist=8, nprobe=4).collect()
    assert S.IVF_FIT_COUNTER["fits"] == before + 1  # TxTable hit, no refit
    assert r1 == r3

    mutated = embeddings.filter(F.col("vec_id") != 999_999_001)
    if mutated.count() == embeddings.count():
        mutated = embeddings.limit(embeddings.count() - 1)
    S.ivf_topk(mutated, 0, k=5, nlist=8, nprobe=4).collect()
    assert S.IVF_FIT_COUNTER["fits"] == before + 2  # fingerprint changed


def test_dup_span_signals_invariants(docs):
    """Coverage is a [0,1] token fraction; planted near-clones share
    long runs so at least one doc must be heavily covered, and the
    corpus must also contain clean (zero-coverage) docs."""
    from etl_pipeline_fresh_picked_leads_spark.operators.text import (
        dup_span_signals,
    )

    out = dup_span_signals(docs, n=5).collect()
    assert len(out) == docs.count()
    for r in out:
        assert 0.0 <= r.dup_fraction <= 1.0
        assert r.dup_tokens <= r.n_tokens
    fracs = [r.dup_fraction for r in out]
    assert max(fracs) >= 0.9 and min(fracs) == 0.0


def test_quantize_roundtrip_preserves_cosine(spark, embeddings):
    """Dequantized int8 vectors must stay cosine-faithful to the float
    originals (coarse-search contract: re-rank on floats)."""
    import numpy as np

    from etl_pipeline_fresh_picked_leads_spark.operators.similarity import (
        quantize_embeddings_int8,
    )

    q = {r.vec_id: r.qvec for r in quantize_embeddings_int8(embeddings).collect()}
    orig = {r.vec_id: r.embedding for r in embeddings.limit(50).collect()}
    ex = embeddings.selectExpr("explode(embedding) x").selectExpr(
        "min(x) mn", "max(x) mx"
    )
    for vid, v in orig.items():
        qv = np.asarray(q[vid], dtype=np.float64)
        assert qv.min() >= 0 and qv.max() <= 255
        fv = np.asarray(v, dtype=np.float64)
        # affine de-quantization per dim uses global corpus bounds; a
        # rank-preserving sanity proxy: correlation of the quantized
        # codes with the original values must be near 1 per vector
        if fv.std() > 0 and qv.std() > 0:
            corr = np.corrcoef(fv, qv)[0, 1]
            assert corr > 0.95, f"vec {vid} corr {corr}"


def test_incremental_lsh_equals_full_run_restriction(docs, tmp_path):
    """Incremental pairs (batch vs index ∪ batch) must equal the
    full-corpus LSH run restricted to pairs touching the batch — same
    hash family, same banding, so candidate generation is identical by
    construction; this pins it.  After update_index, a second call
    with an empty batch sees nothing new; re-running the same batch
    finds the same pairs (signatures are deduped by left_anti on
    doc_id, so re-submitted docs do not pair with themselves)."""
    from etl_pipeline_fresh_picked_leads_spark.operators.dedup import (
        incremental_lsh_pairs,
        minhash_signatures,
    )
    from etl_pipeline_fresh_picked_leads_spark.sources.txtable import TxTable

    is_new = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(5)) == 0
    old, new = docs.filter(~is_new), docs.filter(is_new)
    root = str(tmp_path / "lsh_index")
    TxTable.create(docs.sparkSession, root, minhash_signatures(old))

    inc = {
        (r.doc_id_a, r.doc_id_b, round(r.jaccard, 6))
        for r in incremental_lsh_pairs(new, root, 0.5, update_index=True).collect()
    }
    new_ids = {r.doc_id for r in new.select("doc_id").collect()}
    full = {
        (r.doc_id_a, r.doc_id_b, round(r.jaccard, 6))
        for r in minhash_lsh_pairs(docs, 0.5).collect()
        if r.doc_id_a in new_ids or r.doc_id_b in new_ids
    }
    assert inc == full and len(inc) > 0

    # index now holds old ∪ new: re-running the same batch must find
    # the same pairs again (not zero, not doubled)
    again = {
        (r.doc_id_a, r.doc_id_b, round(r.jaccard, 6))
        for r in incremental_lsh_pairs(new, root, 0.5, update_index=False).collect()
    }
    assert again == inc


def test_incremental_lsh_index_replay_safe(docs, tmp_path):
    """update_index appends must be replay-safe (ADVICE r4): an
    at-least-once redelivery without a txn tag is absorbed by the
    doc_id anti-join; a txn-tagged replay is skipped by TxTable's
    committed-txn check.  Either way the index holds exactly one
    signature row per doc_id."""
    from etl_pipeline_fresh_picked_leads_spark.operators.dedup import (
        incremental_lsh_pairs,
    )
    from etl_pipeline_fresh_picked_leads_spark.sources.txtable import TxTable

    spark = docs.sparkSession
    root = str(tmp_path / "idx")
    mod = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(5))
    b0, b1 = docs.filter(mod == 0), docs.filter(mod == 1)

    # cold start: first batch creates the table (empty-create + append)
    incremental_lsh_pairs(b0, root, 0.5, update_index=True, txn="b0")
    n0 = TxTable(spark, root).read().count()
    assert n0 == b0.count()
    # txn replay (checkpoint-loss redelivery): committed tag skipped
    incremental_lsh_pairs(b0, root, 0.5, update_index=True, txn="b0")
    assert TxTable(spark, root).read().count() == n0

    # untagged append, then untagged redelivery: anti-join absorbs it
    incremental_lsh_pairs(b1, root, 0.5, update_index=True)
    n1 = TxTable(spark, root).read().count()
    assert n1 == n0 + b1.count()
    incremental_lsh_pairs(b1, root, 0.5, update_index=True)
    assert TxTable(spark, root).read().count() == n1
    dup = (
        TxTable(spark, root).read().groupBy("doc_id").count()
        .filter(F.col("count") > 1).count()
    )
    assert dup == 0


def test_per_group_cap_deterministic_across_partitionings(docs):
    from etl_pipeline_fresh_picked_leads_spark.operators.sampling import (
        per_group_cap,
    )

    a = {
        (r.lang, r.doc_id)
        for r in per_group_cap(docs, "lang", "doc_id", 50).collect()
    }
    b = {
        (r.lang, r.doc_id)
        for r in per_group_cap(
            docs.repartition(13), "lang", "doc_id", 50
        ).collect()
    }
    assert a == b
    from collections import Counter

    per_lang = Counter(lang for lang, _ in a)
    totals = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert all(per_lang[lg] == min(50, totals[lg]) for lg in totals)


def test_temperature_mix_contract(docs):
    """alpha=0.5 mixing: (a) deterministic across partitionings,
    (b) the dominant source keeps every row exactly once (rate 1),
    (c) output shares move toward n**alpha — the out-ratio between
    the largest and smallest source is ~sqrt of the natural ratio,
    (d) per-key epochs are contiguous 0..m (packing can interleave)."""
    import math
    from collections import Counter

    from etl_pipeline_fresh_picked_leads_spark.operators.sampling import (
        temperature_mix,
    )

    base = docs.select("doc_id", "lang")
    out = temperature_mix(base, "doc_id", "lang", alpha=0.5).collect()
    out_b = temperature_mix(
        base.repartition(13), "doc_id", "lang", alpha=0.5
    ).collect()
    assert {(r.doc_id, r.epoch) for r in out} == {
        (r.doc_id, r.epoch) for r in out_b
    }

    natural = {r.lang: r.n for r in base.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    top = max(natural, key=natural.get)
    lo = min(natural, key=natural.get)
    mixed = Counter(r.lang for r in out)
    assert mixed[top] == natural[top]  # dominant source: rate exactly 1
    nat_ratio = natural[top] / natural[lo]
    out_ratio = mixed[top] / mixed[lo]
    # fractional repeats are hash-binomial: allow 20% relative slack
    assert abs(out_ratio - math.sqrt(nat_ratio)) / math.sqrt(nat_ratio) < 0.2

    epochs: dict[int, set] = {}
    for r in out:
        epochs.setdefault(r.doc_id, set()).add(r.epoch)
    for did, es in epochs.items():
        assert es == set(range(max(es) + 1)), (did, es)


def test_temperature_mix_alpha_one_is_identity(docs):
    """alpha=1 keeps natural proportions: every rate is exactly 1, so
    the mix is the input corpus itself (epoch 0, no repeats, no
    drops) on any source distribution."""
    from etl_pipeline_fresh_picked_leads_spark.operators.sampling import (
        temperature_mix,
    )

    base = docs.select("doc_id", "lang")
    out = temperature_mix(base, "doc_id", "lang", alpha=1.0).collect()
    assert {(r.doc_id, r.epoch) for r in out} == {
        (r.doc_id, 0) for r in base.collect()
    }


def test_decode_wav_known_samples():
    import struct as _struct

    from etl_pipeline_fresh_picked_leads_spark.operators.multimodal import (
        decode_wav,
    )

    # hand-built 4-sample mono 16-bit 8kHz WAV
    data = _struct.pack("<4h", 100, -200, 300, -50)
    fmt = _struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    wav = (b"RIFF" + _struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
           + b"WAVE" + b"fmt " + _struct.pack("<I", len(fmt)) + fmt
           + b"data" + _struct.pack("<I", len(data)) + data)
    f = decode_wav(wav)
    assert f["n_samples"] == 4 and f["peak"] == 300
    assert f["mean_abs"] == (100 + 200 + 300 + 50) // 4
    assert f["duration_ms"] == 0  # 4 samples @ 8kHz
    for bad in (b"", b"RIFFxxxxWAVE", b"OggS....."):
        import pytest as _pytest

        with _pytest.raises(ValueError):
            decode_wav(bad)


def test_video_frame_sampling_alignment_and_isolation(spark):
    """1:N frame plumbing: sampled frame count per clip is
    ceil(n_frames / 2); an undecodable payload yields one
    frame_idx=-1 row instead of failing the batch."""
    import pandas as pd

    from etl_pipeline_fresh_picked_leads_spark.operators.multimodal import (
        planted_y4m_bytes,
        sample_frames,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 99],
            "payload": [
                planted_y4m_bytes(0),
                planted_y4m_bytes(1),
                b"not a video",
                planted_y4m_bytes(99),
            ],
        }
    )
    out = sample_frames(spark.createDataFrame(pdf), every=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for did in (0, 1, 99):
        nf = 3 + did % 4
        assert [r.frame_idx for r in sorted(by_doc[did], key=lambda r: r.frame_idx)] == list(range(0, nf, 2))
    assert [r.frame_idx for r in by_doc[2]] == [-1]
    assert by_doc[2][0].mean_luma is None


def test_dup_spans_key_slicing_is_exact(docs):
    """key_slices=K decomposes the gram-detection shuffle into K
    exact passes: output must be identical to the single-pass run
    (gram instances co-locate by hash slice, so no cross-slice
    duplicate is ever missed)."""
    from etl_pipeline_fresh_picked_leads_spark.operators.text import (
        dup_span_signals,
    )

    one = {
        (r.doc_id, r.n_dup_grams, r.dup_tokens, r.dup_fraction)
        for r in dup_span_signals(docs, n=5).collect()
    }
    sliced = {
        (r.doc_id, r.n_dup_grams, r.dup_tokens, r.dup_fraction)
        for r in dup_span_signals(docs, n=5, key_slices=3).collect()
    }
    assert one == sliced


def test_temperature_mix_max_repeat_cap(spark):
    """A pathologically rare source would get an unbounded rate;
    max_repeat clamps it — epochs never exceed the cap and the rare
    rows appear exactly max_repeat times (floor(4.0) guaranteed
    copies, no fractional copy)."""
    from etl_pipeline_fresh_picked_leads_spark.operators.sampling import (
        temperature_mix,
    )

    rows = [(i, "big") for i in range(400)] + [(1000, "rare")]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = temperature_mix(df, "doc_id", "lang", alpha=0.0, max_repeat=4)
    rare = [r.epoch for r in out.filter("lang = 'rare'").collect()]
    assert sorted(rare) == [0, 1, 2, 3]  # capped at exactly 4 copies
    assert out.filter("lang = 'big'").count() == 400  # dominant: rate 1


def test_decode_wav_stereo():
    import struct as _struct

    from etl_pipeline_fresh_picked_leads_spark.operators.multimodal import (
        decode_wav,
    )

    # 3 stereo frames (L,R interleaved), 16-bit 44.1kHz
    data = _struct.pack("<6h", 10, -10, 20, -20, 30, -30)
    fmt = _struct.pack("<HHIIHH", 1, 2, 44100, 44100 * 4, 4, 16)
    wav = (b"RIFF" + _struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
           + b"WAVE" + b"fmt " + _struct.pack("<I", len(fmt)) + fmt
           + b"data" + _struct.pack("<I", len(data)) + data)
    f = decode_wav(wav)
    assert f["channels"] == 2 and f["n_samples"] == 3
    assert f["peak"] == 30 and f["mean_abs"] == 20


def test_rolling_wau_sketch_covers_calendar_gaps(spark, tmp_path):
    """ADVICE r5: the sketch-tier rolling WAU must emit a row for a
    calendar-gap day that falls inside some active day's trailing
    7-day window — the exact side and the DuckDB oracle both do, so
    an approx side built only from event-bearing days row-count-fails
    on any corpus with a gap (sf0.01 is accidentally dense)."""
    import datetime as dt

    from etl_pipeline_fresh_picked_leads_spark.queries import QUERIES

    rows = [
        (u, dt.datetime(2024, 1, d, 12, 0))
        for d in (1, 2, 3, 10, 11, 12)  # 6-day calendar gap
        for u in range(5)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp_ntz")
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = QUERIES["q_sketch_rolling_wau"](spark, str(tmp_path)).collect()
    assert sorted(r["day"].day for r in out) == list(range(1, 13))
    assert all(r["within_5pct"] for r in out)


def test_heavy_hitters_matches_full_groupby(spark):
    """Misra-Gries candidates + exact verify must equal the full
    groupBy answer on a skewed corpus, under an adversarial
    partitioning (hot key scattered across all partitions)."""
    from etl_pipeline_fresh_picked_leads_spark.operators.sketches import (
        heavy_hitters,
    )

    rows = [(i % 997,) for i in range(20000)] + [(10**6,)] * 6000
    df = spark.createDataFrame(rows, "k long").repartition(16)  # scatter
    got = {(r.k, r.freq) for r in heavy_hitters(df, "k", k=5).collect()}
    n = df.count()  # 26000: the planted key (6000) clears n/5 = 5200
    want = {
        (r.k, r.freq)
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") * 5 > n)
        .collect()
    }
    assert got == want and (10**6, 6000) in got


def test_decontaminate_bloom_matches_exact_and_prunes_at_scan(spark, docs):
    """decontaminate_bloom must (a) equal the exact broadcast variant
    bit-for-bit (the Bloom has no false negatives and the exact
    semi-join removes its false positives), and (b) apply the bitmap
    membership filter to the exploded train grams BELOW the verify
    join, so at 100 TB only the contaminated sliver + FP fraction
    reaches the join."""
    from etl_pipeline_fresh_picked_leads_spark.operators.dedup import (
        decontaminate,
        decontaminate_bloom,
    )
    from etl_pipeline_fresh_picked_leads_spark.operators.sampling import _hash01
    from etl_pipeline_fresh_picked_leads_spark.plans import formatted_plan

    is_eval = _hash01(F.col("doc_id")) < 0.1
    train, ev = docs.filter(~is_eval), docs.filter(is_eval)
    exact = {
        (r.doc_id, r.n_grams, r.n_contaminated, r.contamination)
        for r in decontaminate(train, ev, n=3).collect()
    }
    # pins=[] keeps the lazy plan inspectable (pins=None would
    # localCheckpoint + auto-release, hiding the Bloom from the plan)
    pins: list = []
    bloomed_df = decontaminate_bloom(train, ev, n=3, pins=pins)
    bloomed = {
        (r.doc_id, r.n_grams, r.n_contaminated, r.contamination)
        for r in bloomed_df.collect()
    }
    assert bloomed == exact and len(exact) > 0
    # the bitmap membership test (shiftright over the literal words)
    # must sit in the plan — the scan-side prune is the point
    assert "shiftright" in formatted_plan(bloomed_df)
    for p in pins:
        p.unpersist()
    # pins=None (direct caller) must NOT leak whole-corpus caches
    # (ADVICE r7): result still matches; the only persistent-RDD
    # growth allowed is the result-sized localCheckpoint itself
    n_before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    auto = {
        (r.doc_id, r.n_grams, r.n_contaminated, r.contamination)
        for r in decontaminate_bloom(train, ev, n=3).collect()
    }
    assert auto == exact
    n_after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert n_after - n_before <= 1, "pins=None leaked internal caches"


def test_decontaminate_bloom_prune_rate(spark, docs):
    """On a corpus where only a fraction of train grams are
    contaminated, the Bloom must discard the bulk of the exploded
    grams before the join (FP rate at the default sizing is <<1%,
    so survivors ~= true contaminated instances)."""
    from etl_pipeline_fresh_picked_leads_spark.operators.dedup import (
        _with_shingles,
    )
    from etl_pipeline_fresh_picked_leads_spark.operators.joins import (
        bloom_build,
        bloom_prune,
    )
    from etl_pipeline_fresh_picked_leads_spark.operators.sampling import _hash01

    is_eval = _hash01(F.col("doc_id")) < 0.1
    train, ev = docs.filter(~is_eval), docs.filter(is_eval)
    ev_grams = (
        _with_shingles(ev, 3).select(F.explode("sh").alias("g")).distinct()
    )
    words = bloom_build(ev_grams, "g")
    ex = _with_shingles(train, 3).select(F.explode("sh").alias("g"))
    total = ex.count()
    survivors = bloom_prune(ex, "g", words).count()
    true_hits = ex.join(ev_grams, "g", "left_semi").count()
    assert survivors >= true_hits  # no false negatives
    # FP overhead bounded: survivors are within 5% of the true hits
    # OR the corpus is so contaminated the prune is moot (not this one)
    assert survivors <= true_hits + max(10, int(0.05 * total))


def test_ivf_append_registers_without_refit(embeddings, monkeypatch, tmp_path):
    """ivf_append (r10, VERDICT r9 #6): appending a small batch
    re-registers the existing centers under the grown corpus's
    fingerprint — NO refit (cost ∝ batch), the next query on the full
    corpus is a cache hit, and recall against exact cosine stays
    within the contract.  Exceeding the drift threshold refits."""
    from etl_pipeline_fresh_picked_leads_spark.operators import (
        similarity as S,
    )

    monkeypatch.setattr(
        S, "_ivf_index_root", lambda: str(tmp_path / "ivf_index")
    )
    monkeypatch.setattr(
        S, "_meta_index_root", lambda: str(tmp_path / "ivf_meta")
    )
    S._IVF_CENTER_CACHE.clear()
    S._IVF_FIT_N.clear()
    spark = embeddings.sparkSession
    n = embeddings.count()
    batch = embeddings.orderBy(F.desc("vec_id")).limit(max(2, n // 100))
    nb = batch.count()
    base = embeddings.join(batch.select("vec_id"), "vec_id", "left_anti")

    before = S.IVF_FIT_COUNTER["fits"]
    S.ivf_assign(base, nlist=8)  # fit the base index
    assert S.IVF_FIT_COUNTER["fits"] == before + 1
    base_fp = S._corpus_fingerprint(base, "embedding")

    res = S.ivf_append(spark, batch, base_fp, nlist=8)
    assert not res["refit"] and not res["refit_recommended"], res
    assert res["batch_rows"] == nb
    assert res["appended_since_fit"] == nb
    # the grown corpus's fingerprint matches the registered key
    full_fp = S._corpus_fingerprint(embeddings, "embedding")
    assert res["fp"] == full_fp, "fingerprint additivity"
    # querying the FULL corpus now hits the cache: zero new fits
    got = S.ivf_topk(embeddings, 0, k=5, nlist=8, nprobe=4).collect()
    assert S.IVF_FIT_COUNTER["fits"] == before + 1, "append must not refit"
    # recall vs exact top-k stays in the contract regime
    exact = {
        r.vec_id
        for r in S.cosine_topk(embeddings, 0, k=5).collect()
    }
    assert len({r.vec_id for r in got} & exact) >= 3, "recall >= 0.6 at k=5"
    # a second small append accumulates; a HUGE batch trips the drift
    # threshold and recommends (here: performs nothing — no refit_with)
    res2 = S.ivf_append(spark, batch, full_fp, nlist=8, drift_frac=0.0001)
    assert res2["refit_recommended"] and not res2["refit"]
    # with refit_with the refit actually runs and resets accounting
    res3 = S.ivf_append(
        spark, batch, full_fp, nlist=8, drift_frac=0.0001,
        refit_with=embeddings.unionByName(batch),
    )
    assert res3["refit"] and S.IVF_FIT_COUNTER["fits"] == before + 2


def test_ivf_append_hot_cell_local_refit(embeddings, monkeypatch, tmp_path):
    """r11 (VERDICT r10 #6): a planted NEW-MODE batch pouring into one
    cell triggers the hot-cell path; with ``local_refit`` the cell is
    SPLIT-MERGED (2-means on only that cell, closest other pair
    merged) instead of a full k-means — the fit counter must NOT move
    — and recall on the new mode recovers: the next ivf query on the
    grown corpus is a cache hit that finds the mode's neighbors."""
    import pyspark.sql.types as T

    from etl_pipeline_fresh_picked_leads_spark.operators import (
        similarity as S,
    )

    monkeypatch.setattr(
        S, "_ivf_index_root", lambda: str(tmp_path / "ivf_index")
    )
    monkeypatch.setattr(
        S, "_meta_index_root", lambda: str(tmp_path / "ivf_meta")
    )
    S._IVF_CENTER_CACHE.clear()
    S._IVF_FIT_N.clear()
    spark = embeddings.sparkSession
    dim = len(embeddings.first().embedding)
    max_id = embeddings.agg(F.max("vec_id")).first()[0]
    # two tight sub-modes along a direction the corpus doesn't have:
    # all land in ONE stale cell, separable by the cell-local 2-means
    m1 = [10.0] * dim
    m2 = [14.0] + [10.0] * (dim - 1)
    rows = [
        (max_id + 1 + i, [x + 0.01 * (i % 3) for x in (m1 if i % 2 else m2)], 0)
        for i in range(24)
    ]
    batch = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label int"
    ).withColumn(
        "embedding", F.col("embedding").cast(T.ArrayType(T.FloatType()))
    )
    before = S.IVF_FIT_COUNTER["fits"]
    S.ivf_assign(embeddings, nlist=8)  # base fit
    assert S.IVF_FIT_COUNTER["fits"] == before + 1
    base_fp = S._corpus_fingerprint(embeddings, "embedding")
    grown = embeddings.unionByName(batch)
    res = S.ivf_append(
        spark,
        batch,
        base_fp,
        nlist=8,
        hot_cell_factor=4.0,  # threshold 0.5 at nlist=8
        refit_with=grown,
        local_refit=True,
    )
    assert res["refit_local"] and not res["refit"], res
    assert not res["refit_recommended"], res
    assert res["hot_cell_frac"] == 1.0, res
    # ≪ full-refit cost, pinned exactly: zero k-means fits ran
    assert S.IVF_FIT_COUNTER["fits"] == before + 1, "local refit only"
    # the repaired index serves the grown corpus as a cache hit...
    got = S.ivf_topk(grown, max_id + 2, k=5, nlist=8, nprobe=2).collect()
    assert S.IVF_FIT_COUNTER["fits"] == before + 1, "cache hit, no refit"
    # ...and the new mode's neighbors are found (recall recovery)
    exact = {r.vec_id for r in S.cosine_topk(grown, max_id + 2, k=5).collect()}
    assert len({r.vec_id for r in got} & exact) >= 4, (got, exact)
    # the repair actually moved centers toward the mode: exactly the
    # split-merge churn (hot center gone, 2 split + 1 merged added,
    # count still nlist), and the mode's nearest center is strictly
    # closer than any stale center was
    import numpy as np

    old = S._load_cached_centers(spark, (*base_fp, 8, 42, 100_000))
    new = S._load_cached_centers(
        spark, (res["fp"][0], res["fp"][1], 8, 42, 100_000)
    )
    assert new is not None and len(new) == 8
    old_set = {tuple(c) for c in old}
    assert len([c for c in new if tuple(c) not in old_set]) == 3, (
        "2 split + 1 merged centers expected"
    )

    def best_cos(cs):
        m = np.asarray([r[1] for r in rows], dtype=float)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        c = np.asarray(cs, dtype=float)
        c /= np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
        return float((m @ c.T).max(axis=1).mean())

    assert best_cos(new) > best_cos(old) + 0.005, (
        best_cos(new),
        best_cos(old),
    )


def test_remove_dup_spans_exact_semantics(spark):
    """remove_dup_spans (r13): every cross-doc duplicated n-gram keeps
    exactly ONE occurrence corpus-wide (min (doc_id, pos)); covered
    positions elsewhere are removed; self-repetition and clean docs
    are untouched; short/empty docs pass through."""
    from etl_pipeline_fresh_picked_leads_spark.operators.text import (
        remove_dup_spans,
    )

    boiler = "b1 b2 b3 b4 b5 b6 b7"  # 7 tokens -> 3 overlapping 5-grams
    rows = [
        (1, "u1 u2 " + boiler + " u3"),         # canonical holder
        (2, "p q " + boiler + " r s"),          # loses the boilerplate
        (3, "s1 s2 s3 s4 s5 s1 s2 s3 s4 s5"),   # SELF-repeat: untouched
        (4, "lone words only here"),            # < n tokens of overlap
        (5, ""),                                # empty
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r for r in remove_dup_spans(docs, n=5).collect()}
    assert len(out) == 5
    assert out[1].text == "u1 u2 " + boiler + " u3"
    assert out[1].n_tokens_after == out[1].n_tokens_before == 10
    assert out[2].text == "p q r s"
    assert out[2].n_tokens_before == 11 and out[2].n_tokens_after == 4
    assert out[3].text == rows[2][1]  # self-repeat preserved
    assert out[4].text == "lone words only here"
    assert out[5].text == "" and out[5].n_tokens_before == 0


def test_remove_dup_spans_determinism_and_no_leak(spark):
    from etl_pipeline_fresh_picked_leads_spark.operators.text import (
        remove_dup_spans,
    )

    docs = spark.createDataFrame(
        [(i, f"x{i} " + "c1 c2 c3 c4 c5" + f" y{i}") for i in range(6)],
        "doc_id bigint, text string",
    )
    n_before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    a = sorted(map(tuple, remove_dup_spans(docs, n=5).collect()))
    b = sorted(map(tuple, remove_dup_spans(docs.repartition(7), n=5).collect()))
    assert a == b, "result must not depend on partitioning"
    # each direct call may leave exactly ONE persistent RDD — its own
    # localCheckpoint result (the srp_lsh no-leak convention); the
    # corpus-sized toked/inst caches must be gone
    n_after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert n_after - n_before <= 2, "corpus caches leaked"
    # doc 0 keeps the shared gram; every other doc loses those 5 tokens
    got = {r[0]: r for r in a}
    assert got[0][3] == 7 and all(got[i][3] == 2 for i in range(1, 6))


def test_dup_span_gram_key_survives_64bit_collision(spark):
    """VERDICT r13 #1 regression: span keys must not rely on ONE
    64-bit hash — at 100 TB gram counts the birthday bound makes
    single-lane collisions routine, and remove_dup_spans deletes on
    key equality without verification.  Force EVERY gram onto one
    first-lane value (``_h1`` override — a simulated total collision);
    the second key lane must still separate grams, so both operators'
    outputs are bit-identical to the default run.  Under a
    single-lane key this forced collision marks every gram duplicated
    and strips innocent documents."""
    from pyspark.sql import functions as F

    from etl_pipeline_fresh_picked_leads_spark.operators.text import (
        dup_span_signals,
        remove_dup_spans,
    )

    docs = spark.createDataFrame(
        # 8 all-unique docs (no cross-doc grams) + one true clone pair
        [(i, f"a{i} b{i} c{i} d{i} e{i} f{i} g{i}") for i in range(8)]
        + [(100, "z1 z2 z3 z4 z5"), (101, "z1 z2 z3 z4 z5")],
        "doc_id bigint, text string",
    )
    collide = lambda words: F.lit(7)  # noqa: E731
    base = sorted(map(tuple, remove_dup_spans(docs, n=5).collect()))
    forced = sorted(
        map(tuple, remove_dup_spans(docs, n=5, _h1=collide).collect())
    )
    assert forced == base, "a 64-bit-lane collision changed the rewrite"
    got = {r[0]: r for r in base}
    # the true clone pair still dedups: min (doc_id, pos) keeps 100
    assert got[100][3] == 5 and got[101][3] == 0
    # and the unique docs keep every token
    assert all(got[i][3] == 7 for i in range(8))
    sig_base = sorted(map(tuple, dup_span_signals(docs, n=5).collect()))
    sig_forced = sorted(
        map(tuple, dup_span_signals(docs, n=5, _h1=collide).collect())
    )
    assert sig_forced == sig_base, "collision perturbed detection stats"


def test_remove_dup_spans_key_slicing_is_exact(spark):
    """remove_dup_spans(key_slices=K) decomposes the gram stage into
    K exact passes (slice = pmod of the first key lane; all instances
    of a gram share it): the rewritten corpus must be identical to
    the single-pass run."""
    from etl_pipeline_fresh_picked_leads_spark.operators.text import (
        remove_dup_spans,
    )

    docs = spark.createDataFrame(
        [(i, f"x{i} " + "c1 c2 c3 c4 c5 c6" + f" y{i} z{i % 3}")
         for i in range(12)]
        + [(50, "q1 q2 q3 q4 q5"), (51, "q1 q2 q3 q4 q5")],
        "doc_id bigint, text string",
    )
    one = sorted(map(tuple, remove_dup_spans(docs, n=5).collect()))
    sliced = sorted(
        map(tuple, remove_dup_spans(docs, n=5, key_slices=3).collect())
    )
    assert one == sliced


def test_parallel_probes_frames_without_input_files(spark):
    """A frame with no file list (in-memory, or a ``format("txtable")``
    read) is sized by the exact partition probe: one already split is
    returned as it is, a single partition fans out."""
    from etl_pipeline_fresh_picked_leads_spark.operators.dedup import _parallel

    cores = spark.sparkContext.defaultParallelism
    split = spark.range(0, 64, 1, numPartitions=max(2, cores))
    assert split.inputFiles() == []
    assert _parallel(split) is split
    one = spark.range(0, 64, 1, numPartitions=1)
    assert "Repartition" in _parallel(one)._jdf.queryExecution().logical().toString()


def test_memo_col_rebuilds_for_a_new_context(monkeypatch):
    """Memoized Columns belong to the SparkContext that built them: a
    new context, even one allocated where a dead one lived, rebuilds."""
    import gc

    from pyspark import SparkContext

    from etl_pipeline_fresh_picked_leads_spark.operators import dedup

    class Ctx:
        pass

    builds = []

    def build():
        builds.append(object())
        return builds[-1]

    monkeypatch.setattr(SparkContext, "_active_spark_context", Ctx())
    first = dedup._memo_col(("memo-test",), build)
    assert dedup._memo_col(("memo-test",), build) is first
    # drop the only reference, so the next context may reuse its address
    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    gc.collect()
    monkeypatch.setattr(SparkContext, "_active_spark_context", Ctx())
    assert dedup._memo_col(("memo-test",), build) is not first
    assert len(builds) == 2


_MEMO_RESTART = """
import sys
sys.path.insert(0, sys.argv[1])
from pyspark import SparkContext
from etl_pipeline_fresh_picked_leads_spark.operators import dedup
from etl_pipeline_fresh_picked_leads_spark.session import build_session

def shingled():
    spark = build_session(
        app_name="fpl-memo-restart", master="local[1]", shuffle_partitions="1",
        extra_conf={"spark.ui.enabled": "false"},
    )
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id long, text string"
    )
    got = sorted((r.doc_id, sorted(r.sh)) for r in dedup._with_shingles(docs).collect())
    return spark, got

spark, first = shingled()
spark.stop()
spark, second = shingled()
try:
    print("SAME", first == second and len(first) == 2)
    memo = dedup._COL_MEMO.get(SparkContext._active_spark_context, {})
    print("BOUND", ("str_sh", 3) in memo)
finally:
    spark.stop()
"""


def test_memo_col_survives_session_stop_and_rebuild(tmp_path):
    """Stopping the session and building a new one in the same process
    (same JVM) rebuilds the memoized Columns for the new context, and
    the shingling they drive gives the same result."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    child = subprocess.run(
        [sys.executable, "-c", _MEMO_RESTART, repo],
        capture_output=True, text=True, timeout=300, cwd=str(tmp_path),
    )
    assert child.returncode == 0, child.stderr[-2000:]
    assert "SAME True\n" in child.stdout, child.stdout
    assert "BOUND True\n" in child.stdout, child.stdout
