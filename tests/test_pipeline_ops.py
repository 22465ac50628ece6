"""Dedup / text / similarity / multimodal operators on the driver
testdata (documents + embeddings at sf0.001)."""

import pytest

from pyspark.sql import functions as F

from pufs_spark.operators import dedup, multimodal, similarity, text
from pufs_spark.tables import load_table
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_DIR, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings").cache()


def test_token_count_matches_python(spark, docs):
    rows = text.token_count(docs).select("doc_id", "text", "n_tokens").take(50)
    for r in rows:
        assert r["n_tokens"] == len(r["text"].split()), r["text"]


def test_quality_stats_ranges(spark, docs):
    q = text.quality_stats(docs)
    bad = q.where(
        (F.col("alpha_ratio") < 0)
        | (F.col("alpha_ratio") > 1)
        | (F.col("stopword_ratio") < 0)
        | (F.col("stopword_ratio") > 1)
        | (F.col("mean_token_len") <= 0)
    )
    assert bad.count() == 0


def test_lang_id_deterministic(spark, docs):
    out = text.lang_id(docs).select("doc_id", "pred_lang")
    assert out.count() == docs.count()
    langs = {r["pred_lang"] for r in out.distinct().collect()}
    assert langs <= set(text.STOPWORDS) | {"und"}


def test_lang_id_refuses_working_column_collision(spark):
    """An input that already carries lang_id's working column would be
    silently overwritten; the guard raises ValueError (not an
    ``assert``, which ``-O`` strips)."""
    df = spark.createDataFrame(
        [(1, "the cat", "x")], "doc_id long, text string, __pufs_toks string"
    )
    with pytest.raises(ValueError, match="__pufs_toks"):
        text.lang_id(df)


def test_fingerprint_collapses_formatting(spark):
    df = spark.createDataFrame(
        [(1, "Hello,   World!"), (2, "hello world"), (3, "different")],
        "doc_id long, text string",
    )
    fps = {r["doc_id"]: r["fp"] for r in text.fingerprint(df).collect()}
    assert fps[1] == fps[2] != fps[3]


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "aaa"), (2, "bbb"), (3, "aaa")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["dup_count"] for r in dedup.exact_dedup(df).collect()}
    assert out == {1: 2, 2: 1}


def test_shingles_match_expected(spark):
    df = spark.createDataFrame([(1, "abcdef"), (2, "abc")], "doc_id long, text string")
    rows = {
        r["doc_id"]: r["shingles"]
        for r in dedup.with_shingles(df, k=5).collect()
    }
    assert rows[1] == ["abcde", "bcdef"]
    assert rows[2] == []  # shorter than k


@pytest.mark.soak  # multi-minute; see pytest.ini
def test_lsh_finds_known_near_dups(spark, docs):
    """LSH+verify equals brute-force exact Jaccard at the threshold."""
    pairs = dedup.near_dup_pairs(docs, threshold=0.7)
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    # brute force ground truth (shingles materialized once)
    sh = dedup.with_shingles(docs).select("doc_id", "shingles").localCheckpoint()
    a = sh.withColumnRenamed("doc_id", "a").withColumnRenamed("shingles", "sa")
    b = sh.withColumnRenamed("doc_id", "b").withColumnRenamed("shingles", "sb")
    truth = {
        (r["a"], r["b"])
        for r in a.crossJoin(b)
        .where(F.col("a") < F.col("b"))
        .withColumn(
            "j",
            F.size(F.array_intersect("sa", "sb"))
            / F.size(F.array_distinct(F.concat("sa", "sb"))),
        )
        .where(F.col("j") >= 0.7)
        .collect()
    }
    assert truth, "testdata should contain injected near-dups"
    assert got == truth


def test_near_dup_groups_and_keep_first(spark, docs):
    pairs = dedup.near_dup_pairs(docs, threshold=0.7).localCheckpoint()
    groups = dedup.near_dup_groups(pairs)
    # every group id is the min doc_id of its group
    bad = (
        groups.groupBy("group_id")
        .agg(F.min("doc_id").alias("mn"))
        .where(F.col("group_id") != F.col("mn"))
    )
    assert bad.count() == 0
    kept = dedup.dedup_keep_first(docs, pairs)
    n_losers = groups.where(F.col("doc_id") != F.col("group_id")).count()
    assert kept.count() == docs.count() - n_losers


def test_simhash_near_dups_overlap_minhash(spark, docs):
    sh_pairs = {
        (r["a"], r["b"])
        for r in dedup.simhash_near_dup_pairs(docs, max_hamming=3).collect()
    }
    mh_pairs = {
        (r["a"], r["b"])
        for r in dedup.near_dup_pairs(docs, threshold=0.9).collect()
    }
    # strong near-dups should be caught by both signals
    assert mh_pairs, "expected >0.9-jaccard pairs in testdata"
    assert len(sh_pairs & mh_pairs) >= len(mh_pairs) // 2


def test_brute_force_topk(spark, emb):
    q = emb.where(F.col("vec_id") < 3)
    out = similarity.brute_force_topk(q, emb, k=5)
    rows = out.collect()
    assert len(rows) == 15
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        sims = [r["cosine"] for r in rs]
        assert sims == sorted(sims, reverse=True)
        assert all(r["neighbor_id"] != qid for r in rs)
        assert all(-1.0001 <= s <= 1.0001 for s in sims)


def test_s1_ann_equals_brute_force(spark):
    """The headline S1 plan (planted-neighbor corpus + LSH top-k) must
    equal brute force value-for-value — the structural-recall argument
    in __spark_entry__.q_s1's docstring, checked end-to-end."""
    import __spark_entry__ as entrymod
    from pufs_spark.tables import load_table

    sf_dir = "/root/testdata/sf0.001"
    ann = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in entrymod.queries()["S1_cosine_topk"](spark, sf_dir).collect()
    }
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    qs = base.where(F.col("vec_id") % 50 == 0)
    planted = qs.select(
        "vec_id",
        "embedding",
        F.explode(F.array(*[F.lit(j) for j in range(1, 6)])).alias("j"),
    ).select(
        (F.lit(1000000) + F.col("vec_id") * 10 + F.col("j")).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: x + F.col("j") * F.lit(0.0005)
        ).alias("embedding"),
    )
    corpus = base.unionByName(planted)
    exact = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in similarity.brute_force_topk(qs, corpus, k=5).collect()
    }
    assert ann == exact and len(ann) > 0


def test_lsh_topk_recall(spark, emb):
    q = emb.where(F.col("vec_id") < 20)
    exact = similarity.brute_force_topk(q, emb, k=1)
    approx = similarity.lsh_topk(q, emb, k=1, n_tables=8, n_planes=4)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    # random-hyperplane LSH on ~0.5-cosine neighbors: p(hit/table) ≈
    # (1-θ/π)^4 ≈ 0.2, so 8 tables ⇒ recall ≈ 0.83; assert a safe floor
    assert len(e & a) >= int(0.5 * len(e))


def test_embedding_near_dup_pairs(spark, emb):
    pairs = similarity.embedding_near_dup_pairs(emb, threshold=0.99)
    for r in pairs.collect():
        assert r["a"] < r["b"] and r["cosine"] >= 0.99


def test_multimodal_plumbing(spark):
    media = multimodal.synthetic_media(spark, n=32)
    feats = multimodal.extract_features(media)
    rows = feats.collect()
    assert len(rows) == 32
    assert all(len(r["feature"]) == 16 for r in rows)
    # deterministic: same content -> same hash+feature
    again = {r["media_id"]: r["content_hash"] for r in feats.collect()}
    assert {r["media_id"]: r["content_hash"] for r in rows} == again
    stats = {r["kind"]: r["n"] for r in multimodal.media_stats(media).collect()}
    assert stats == {"image": 16, "audio": 16}
    with pytest.raises(NotImplementedError):
        multimodal.resize_images(media, 32, 32)


def test_ivf_topk_recall(spark, emb):
    q = emb.where(F.col("vec_id") < 20)
    exact = similarity.brute_force_topk(q, emb, k=1)
    approx = similarity.ivf_topk(q, emb, k=1, n_centroids=16, n_probe=8)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    # probing half the lists should recover most exact top-1 neighbors
    assert len(e & a) >= int(0.5 * len(e))


def test_ivf_topk_shape(spark, emb):
    q = emb.where(F.col("vec_id") % 50 == 0)
    out = similarity.ivf_topk(q, emb, k=5, n_centroids=8, n_probe=2)
    rows = out.collect()
    by_q = {}
    for r in rows:
        assert r["query_id"] != r["neighbor_id"]
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_media_from_documents_roundtrip(spark, docs):
    media = multimodal.media_from_documents(docs)
    feats = multimodal.extract_features(media).collect()
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    import hashlib

    for r in feats:
        expect = hashlib.sha256(texts[r["media_id"]].encode()).hexdigest()
        assert r["content_hash"] == expect
        assert r["n_bytes"] == len(texts[r["media_id"]].encode())


def test_winnow_fingerprints_properties(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),
        (3, "the quick brown fox jumps over the very lazy dog again and again"),
        (4, "completely unrelated content with different words entirely here"),
        (5, "tiny"),
        (6, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = text.winnow_fingerprints(df)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    # identical docs → identical fingerprint sets
    assert by_doc[1] == by_doc[2]
    # a small edit preserves most fingerprints (winnowing guarantee)
    inter = len(by_doc[1] & by_doc[3])
    union = len(by_doc[1] | by_doc[3])
    assert inter / union > 0.4
    # unrelated docs share (almost) nothing
    assert len(by_doc[1] & by_doc[4]) <= 1
    # text shorter than k still yields one fingerprint; empty yields none
    assert len(by_doc.get(5, set())) == 1
    assert 6 not in by_doc


def test_redact_pii_kinds_and_order(spark):
    rows = [
        (1, "mail me at jane.doe+x@corp.example.org today"),
        (2, "server 192.168.1.254 answered"),
        (3, "card 4111111111111111 expired"),
        (4, "call 555-123-4567 or 555-1234-4567"),
        (5, "id 123456789012345678901234 is too long for a card"),
        (6, "untouched text stays untouched"),
        # ordering contract: the email eats its digits before the card
        # pattern can see them
        (7, "reach 4111111111111111@example.com please"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["redacted"] for r in text.redact_pii(df).collect()}
    assert out[1] == "mail me at [PII:email] today"
    assert out[2] == "server [PII:ipv4] answered"
    assert out[3] == "card [PII:card] expired"
    assert out[4] == "call [PII:phone] or [PII:phone]"
    assert "[PII:card]" not in out[5]  # 24 digits: not card-shaped
    assert out[6] == "untouched text stays untouched"
    assert out[7] == "reach [PII:email] please"


def test_boilerplate_ngrams_and_fraction(spark):
    footer = "generated by acme corp pipeline"
    rows = [(i, f"unique words {i} here now then {footer}") for i in range(6)]
    rows += [(100, "totally different content with no shared phrases at all")]
    # a doc repeating the footer twice must count ONCE (distinct docs,
    # not occurrences)
    rows += [(101, f"{footer} and also {footer}")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    bp = text.boilerplate_ngrams(df, n=5, min_docs=6)
    grams = {r["gram"]: r["n_docs"] for r in bp.collect()}
    assert "generated by acme corp pipeline" in grams
    assert grams["generated by acme corp pipeline"] == 7  # 6 + doc 101
    # nothing from the unique doc crosses the threshold
    assert not any("totally" in g for g in grams)

    frac = {
        r["doc_id"]: r["bp_fraction"]
        for r in text.boilerplate_fraction(df, bp, n=5).collect()
    }
    assert frac[100] == 0.0
    # docs 0-5 share the whole "... then <footer>" run (4 of 7 grams);
    # doc 101 only matches the footer gram itself (2 of 8)
    assert frac[0] == pytest.approx(4 / 7)
    assert frac[101] == pytest.approx(2 / 8)


@pytest.mark.soak  # multi-minute; see pytest.ini
def test_clean_corpus_end_to_end(spark, docs):
    from pufs_spark.operators import pipeline

    before = docs.count()
    cleaned = pipeline.clean_corpus(docs).localCheckpoint()
    after = cleaned.count()
    assert 0 < after <= before
    # survivors satisfy every gate
    stats = text.quality_stats(cleaned)
    bad = stats.where(
        (F.col("n_tokens") < 5)
        | (F.col("punct_ratio") > 0.2)
        | (F.col("alpha_ratio") < 0.5)
    ).count()
    assert bad == 0
    assert (
        text.lang_id(cleaned).where(F.col("pred_lang") != "en").count() == 0
    )
    # no exact duplicates remain
    assert (
        dedup.exact_dedup(cleaned).where(F.col("dup_count") > 1).count() == 0
    )
    # no near-dup pairs remain above threshold
    assert dedup.near_dup_pairs(cleaned, threshold=0.7).count() == 0
    # idempotent: cleaning a clean corpus is a no-op
    again = pipeline.clean_corpus(cleaned)
    assert again.count() == after


def test_embedding_near_dup_lsh_recall(spark, emb):
    exact = {
        (r["a"], r["b"])
        for r in similarity.embedding_near_dup_pairs(emb, threshold=0.9).collect()
    }
    approx = {
        (r["a"], r["b"])
        for r in similarity.embedding_near_dup_pairs_lsh(
            emb, threshold=0.9, n_tables=8
        ).collect()
    }
    assert approx <= exact  # candidates re-ranked exactly: no false pairs
    if exact:
        assert len(approx & exact) >= int(0.7 * len(exact))


@pytest.mark.soak  # multi-minute; see pytest.ini
def test_prefix_filter_equals_bruteforce(spark, docs):
    """Prefix filtering is exact by construction: the result must equal
    the brute-force threshold join, pair for pair."""
    sub = docs.where(F.col("doc_id") < 120)
    pairs = (
        sub.select(F.col("doc_id").alias("a"))
        .crossJoin(sub.select(F.col("doc_id").alias("b")))
        .where(F.col("a") < F.col("b"))
    )
    brute = {
        (r["a"], r["b"], round(r["jaccard"], 9))
        for r in dedup.jaccard_pairs(sub, pairs)
        .where(F.col("jaccard") >= 0.5)
        .collect()
    }
    pf = {
        (r["a"], r["b"], round(r["jaccard"], 9))
        for r in dedup.prefix_filter_pairs(sub, threshold=0.5).collect()
    }
    assert pf == brute


@pytest.mark.soak  # multi-minute; see pytest.ini
def test_prefix_filter_agrees_with_lsh_pipeline(spark, docs):
    pf = {
        (r["a"], r["b"])
        for r in dedup.prefix_filter_pairs(docs, threshold=0.7).collect()
    }
    lsh = {
        (r["a"], r["b"])
        for r in dedup.near_dup_pairs(docs, threshold=0.7).collect()
    }
    assert lsh <= pf  # LSH can only miss, never invent
    assert pf == lsh  # and on this corpus it misses nothing


def test_ivf_kmeans_centroids(spark, emb):
    cents = similarity.fit_kmeans_centroids(emb, n_centroids=8, sample=512)
    assert len(cents) == 8 and all(len(c) == 64 for c in cents)
    # deterministic fit
    again = similarity.fit_kmeans_centroids(emb, n_centroids=8, sample=512)
    assert cents == again
    q = emb.where(F.col("vec_id") < 20)
    exact = similarity.brute_force_topk(q, emb, k=1)
    approx = similarity.ivf_topk(q, emb, k=1, n_probe=4, centroids=cents)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(e & a) >= int(0.5 * len(e))


def test_s2_lsh_equals_bruteforce_on_planted_corpus(spark, emb):
    """S2's oracle-checked path is LSH; it must equal brute force exactly
    on the planted-near-dup corpus (cosine ~0.999 pairs, empty band below
    them, so recall 1 is the expected outcome, not a lucky draw)."""
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    pert = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            F.col("embedding").cast("array<double>"), lambda x: x + F.lit(0.005)
        ).alias("embedding"),
    )
    corpus = base.unionByName(pert).cache()
    n = corpus.count() // 2
    lsh = {
        (r["a"], r["b"])
        for r in similarity.embedding_near_dup_pairs_lsh(
            corpus, threshold=0.95
        ).collect()
    }
    brute = {
        (r["a"], r["b"])
        for r in similarity.embedding_near_dup_pairs(
            corpus, threshold=0.95
        ).collect()
    }
    assert lsh == brute
    # every planted copy found, nothing else
    assert len(lsh) == n
    assert all(b == a + 1000000 for a, b in lsh)
    corpus.unpersist()


# -- deterministic sampling / splits (operators/sampling.py) ------------


def test_hash_sample_deterministic_and_partition_invariant(spark, docs):
    from pufs_spark.operators import sampling

    s1 = {r["doc_id"] for r in sampling.hash_sample(docs, 0.3, seed=5).collect()}
    s2 = {
        r["doc_id"]
        for r in sampling.hash_sample(docs.repartition(13), 0.3, seed=5).collect()
    }
    assert s1 == s2  # partitioning must not change the sample
    n = docs.count()
    assert 0.15 * n < len(s1) < 0.45 * n  # rate is approximate, not wild
    # python replay: the same md5 rule picks the same docs
    import hashlib

    thr = sampling.rate_threshold(0.3)
    expected = {
        r["doc_id"]
        for r in docs.select("doc_id").collect()
        if hashlib.md5(f"5:{r['doc_id']}".encode()).hexdigest()[:12] < thr
    }
    assert s1 == expected


def test_assign_splits_partitions_completely(spark, docs):
    from pufs_spark.operators import sampling

    out = sampling.assign_splits(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1}, seed=9
    )
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == docs.count()  # every row exactly one split
    assert counts["train"] > counts["val"]
    # stability: a doc keeps its split when the frame is filtered
    sub = sampling.assign_splits(
        docs.where(F.col("doc_id") < 50), {"train": 0.8, "val": 0.1, "test": 0.1},
        seed=9,
    )
    full = {r["doc_id"]: r["split"] for r in out.where(F.col("doc_id") < 50).collect()}
    assert {r["doc_id"]: r["split"] for r in sub.collect()} == full


def test_assign_splits_rejects_bad_weights(spark, docs):
    from pufs_spark.operators import sampling

    with pytest.raises(ValueError, match="sum"):
        sampling.assign_splits(docs, {"train": 0.5, "val": 0.1})


def test_null_keys_sampled_consistently(spark):
    """Null sampling keys hash through one deterministic sentinel
    bucket: rate-1.0 sampling keeps them (they used to vanish — md5 of
    null is null), every null-key row lands in the SAME split, and that
    split agrees with hash_sample's keep/drop decision at the matching
    rate boundary."""
    from pufs_spark.operators import sampling

    rows = [(str(i),) for i in range(50)] + [(None,)] * 5
    df = spark.createDataFrame(rows, "k string")
    assert sampling.hash_sample(df, 1.0, key_col="k").count() == 55
    nulls = sampling.assign_splits(
        df, {"train": 0.5, "val": 0.5}, key_col="k", seed=3
    ).where(F.col("k").isNull())
    splits = {r["split"] for r in nulls.collect()}
    assert len(splits) == 1  # all null keys share one split
    # keep/drop at rate 0.5 must agree with the assigned half
    kept_nulls = (
        sampling.hash_sample(df, 0.5, key_col="k", seed=3)
        .where(F.col("k").isNull())
        .count()
    )
    assert kept_nulls == (5 if splits == {"train"} else 0)


def test_stratified_rates_respected(spark, docs):
    from pufs_spark.operators import sampling

    out = sampling.stratified_hash_sample(
        docs, rates={"src0": 1.0, "src1": 0.0}, strata_col="source",
        seed=4, default_rate=0.5,
    )
    by_src = {r["source"]: r["n"] for r in out.groupBy("source").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    totals = {r["source"]: r["n"] for r in docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert by_src.get("src0") == totals["src0"]  # rate 1.0 keeps all
    assert "src1" not in by_src  # rate 0.0 drops all
    other = {s for s in totals if s not in ("src0", "src1")}
    kept_other = sum(by_src.get(s, 0) for s in other)
    total_other = sum(totals[s] for s in other)
    assert 0.25 * total_other < kept_other < 0.75 * total_other


# -- incremental (cross-corpus) dedup -----------------------------------


@pytest.mark.soak  # multi-minute; see pytest.ini
def test_cross_near_dup_matches_brute_force(spark, docs):
    new = docs.where(F.col("doc_id") < 40)
    corpus = docs.where(F.col("doc_id") >= 40)
    got = {
        (r["a"], r["b"])
        for r in dedup.cross_near_dup_pairs(new, corpus, threshold=0.5).collect()
    }
    pairs = (
        new.select(F.col("doc_id").alias("a"))
        .crossJoin(corpus.select(F.col("doc_id").alias("b")))
    )
    want = {
        (r["a"], r["b"])
        for r in dedup.jaccard_pairs(docs, pairs)
        .where(F.col("jaccard") >= 0.5)
        .collect()
    }
    assert got == want
    assert all(a < 40 <= b for a, b in got)


def test_eval_contamination_properties(spark, docs):
    ev = docs.where(F.col("doc_id") % 25 == 0)
    out = text.eval_contamination(docs, ev, n=8).cache()
    assert out.count() == docs.count()  # every doc scored
    # eval members' grams are all in the eval set by construction
    member = out.join(ev.select("doc_id"), "doc_id").where(F.col("n_grams") > 0)
    assert member.where(F.col("contamination") != 1.0).count() == 0
    # bounds + zero-gram docs score 0.0, not null
    bad = out.where(
        (F.col("contamination") < 0) | (F.col("contamination") > 1)
        | F.col("contamination").isNull()
    )
    assert bad.count() == 0
    # python replay on one contaminated + one clean doc
    rows = {r["doc_id"]: r for r in out.collect()}
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    ev_ids = {r["doc_id"] for r in ev.collect()}
    def grams(t):
        toks = t.split()
        return {" ".join(toks[i:i + 8]) for i in range(len(toks) - 7)}
    ev_grams = set().union(*(grams(texts[i]) for i in ev_ids))
    for did in list(texts)[:40]:
        g = grams(texts[did])
        want = (len(g & ev_grams) / len(g)) if g else 0.0
        assert abs(rows[did]["contamination"] - want) < 1e-9, did


@pytest.mark.soak  # multi-minute; see pytest.ini
def test_cross_near_dup_with_persisted_index(spark, docs, tmp_path):
    """The bucketed corpus index must (a) give exactly the same pairs
    as the index-less path, (b) actually be read bucket-aware so the
    per-batch candidate join needs no corpus-side shuffle."""
    new = docs.where(F.col("doc_id") < 40)
    corpus = docs.where(F.col("doc_id") >= 40)
    spark.sql("DROP TABLE IF EXISTS nd_index")
    dedup.build_near_dup_index(
        corpus, "nd_index", str(tmp_path / "nd_index"), buckets=8
    )
    try:
        with_index = dedup.cross_near_dup_pairs(
            new, corpus, threshold=0.5, corpus_index="nd_index"
        )
        got = {(r["a"], r["b"]) for r in with_index.collect()}
        want = {
            (r["a"], r["b"])
            for r in dedup.cross_near_dup_pairs(new, corpus, threshold=0.5).collect()
        }
        assert got == want
        plan = with_index._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan  # index scan is bucket-aware
    finally:
        spark.sql("DROP TABLE IF EXISTS nd_index")


@pytest.mark.soak  # multi-minute; see pytest.ini
def test_ivf_index_matches_fresh_path(spark, emb, tmp_path):
    """A persisted IVF index (centroids + bucketed inverted lists) must
    reproduce the index-less ivf_topk results computed with the same
    fitted centroids."""
    from pufs_spark.operators import similarity

    queries = emb.where(F.col("vec_id") < 10)
    spark.sql("DROP TABLE IF EXISTS ann_idx")
    spark.sql("DROP TABLE IF EXISTS ann_idx_centroids")
    similarity.build_ann_index(
        emb, "ann_idx", str(tmp_path / "ann_idx"), n_centroids=8, seed=11
    )
    try:
        with_idx = similarity.ivf_topk(
            queries, emb, k=5, corpus_index="ann_idx"
        )
        got = [
            (r["query_id"], r["rank"], r["neighbor_id"])
            for r in with_idx.orderBy("query_id", "rank").collect()
        ]
        cents = [
            list(r["_cv"])
            for r in spark.table("ann_idx_centroids")
            .orderBy("centroid_id")
            .collect()
        ]
        fresh = similarity.ivf_topk(queries, emb, k=5, centroids=cents)
        want = [
            (r["query_id"], r["rank"], r["neighbor_id"])
            for r in fresh.orderBy("query_id", "rank").collect()
        ]
        assert got == want
        assert len(got) == 10 * 5
        plan = with_idx._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan or "SelectedBucketsCount" in plan
    finally:
        spark.sql("DROP TABLE IF EXISTS ann_idx")
        spark.sql("DROP TABLE IF EXISTS ann_idx_centroids")


@pytest.mark.soak  # multi-minute; see pytest.ini
def test_prepare_training_corpus_end_to_end(spark, docs, tmp_path):
    """Full corpus sink: clean -> decontaminate -> split -> partitioned
    layout. The written dataset must read back partition-pruned, splits
    must partition the survivors, and no contaminated doc may survive."""
    from pufs_spark.operators import pipeline as P
    from pufs_spark.operators import text as T
    from pufs_spark.sources import dataset

    ev = docs.where(F.col("doc_id") % 100 == 0)
    path = str(tmp_path / "corpus")
    out = P.prepare_training_corpus(
        docs, path,
        split_weights={"train": 0.8, "val": 0.1, "test": 0.1},
        eval_df=ev, max_contamination=0.5,
        near_dup_threshold=None,  # keep the test fast; dedup covered elsewhere
    )
    kept = out.count()
    assert 0 < kept < docs.count()

    back = dataset.read_dataset(spark, path)
    assert back.count() == kept
    assert {r["split"] for r in back.select("split").distinct().collect()} <= {
        "train", "val", "test"
    }
    # partition pruning: a split filter must prune directories
    plan = back.where(F.col("split") == "val")._jdf.queryExecution().toString()
    assert "split=val" in plan or "PartitionFilters" in plan
    # contamination gate: every survivor scores <= 0.5 against the eval set
    scores = T.eval_contamination(back, ev)
    assert scores.where(F.col("contamination") > 0.5).count() == 0
    # determinism: a doc's split never changes across reruns
    again = P.prepare_training_corpus(
        docs, str(tmp_path / "corpus2"),
        split_weights={"train": 0.8, "val": 0.1, "test": 0.1},
        eval_df=ev, max_contamination=0.5, near_dup_threshold=None,
    )
    a = {r["doc_id"]: r["split"] for r in out.select("doc_id", "split").collect()}
    b = {r["doc_id"]: r["split"] for r in again.select("doc_id", "split").collect()}
    assert a == b


def test_prepare_training_corpus_emits_packing_layout(spark, docs, tmp_path):
    """pack_budget writes the sequence-packing layout per split under
    _packing/: every written doc gets exactly one layout row, packing
    is contiguous within each (split, shard), and splits never share a
    pack (the window keys on split)."""
    from pufs_spark.operators import pipeline as P
    from pufs_spark.sources import dataset

    path = str(tmp_path / "corpus")
    out = P.prepare_training_corpus(
        docs, path,
        split_weights={"train": 0.8, "val": 0.2},
        near_dup_threshold=None,
        pack_budget=128,
    )
    layout = dataset.read_dataset(spark, path + "/_packing")
    assert layout.count() == out.count()
    assert set(layout.columns) >= {
        "doc_id", "split", "shard", "n_tokens", "tok_offset",
        "start_pack", "end_pack",
    }
    rows = layout.collect()
    groups: dict = {}
    for r in rows:
        groups.setdefault((r["split"], r["shard"]), []).append(r)
    assert len({k[0] for k in groups}) == 2  # both splits packed
    for _, g in groups.items():
        g.sort(key=lambda r: r["doc_id"])
        off = 0
        for r in g:
            assert r["tok_offset"] == off  # contiguous within the group
            off += r["n_tokens"]


def test_repetition_stats_python_replay(spark, docs):
    out = {r["doc_id"]: r for r in text.repetition_stats(docs).collect()}
    assert len(out) == docs.count()
    from collections import Counter

    for r in docs.select("doc_id", "text").take(40):
        toks = r["text"].split()
        row = out[r["doc_id"]]
        assert row["n_tokens"] == len(toks)
        if not toks:
            continue
        wc = Counter(toks)
        assert row["distinct_word_ratio"] == pytest.approx(len(wc) / len(toks))
        assert row["top_word_frac"] == pytest.approx(max(wc.values()) / len(toks))
        if len(toks) >= 2:
            g = Counter(" ".join(toks[i:i + 2]) for i in range(len(toks) - 1))
            assert row["top_2gram_frac"] == pytest.approx(
                max(g.values()) / (len(toks) - 1)
            )


def test_bm25_python_replay(spark, docs):
    import math
    from collections import Counter

    terms = ["spark", "data"]
    out = {r["doc_id"]: r["score"] for r in text.bm25_search(docs, terms).collect()}
    rows = docs.select("doc_id", "text").collect()
    toks = {r["doc_id"]: r["text"].split() for r in rows}
    n = len(rows)
    avgdl = sum(len(t) for t in toks.values()) / n
    df_t = {t: sum(1 for d in toks.values() if t in d) for t in terms}
    for did, tk in list(toks.items())[:60]:
        c = Counter(tk)
        want = 0.0
        for t in terms:
            if c[t] == 0:
                continue
            idf = math.log((n - df_t[t] + 0.5) / (df_t[t] + 0.5) + 1)
            want += idf * c[t] * 2.2 / (c[t] + 1.2 * (0.25 + 0.75 * len(tk) / avgdl))
        if want == 0.0:
            assert did not in out  # no matching term -> no row
        else:
            assert out[did] == pytest.approx(want, rel=1e-9)
    # top_n truncates globally and ranks by score
    top = text.bm25_search(docs, terms, top_n=5).collect()
    assert len(top) == 5
    assert sorted((r["score"] for r in top), reverse=True) == [r["score"] for r in top]
    with pytest.raises(ValueError):
        text.bm25_search(docs, [])


def test_bm25_with_persisted_index(spark, docs, tmp_path):
    """The bucketed BM25 index must (a) score identically to the
    index-less path, (b) be read bucket-aware with the query-term
    filter pushed into the postings scan, (c) plan NO corpus-wide
    tokenize/explode per query — the full-corpus work happened once at
    build time."""
    spark.sql("DROP TABLE IF EXISTS bm25_idx")
    spark.sql("DROP TABLE IF EXISTS bm25_idx_stats")
    text.build_bm25_index(docs, "bm25_idx", str(tmp_path / "bm25_idx"), buckets=8)
    try:
        terms = ["spark", "data"]
        with_idx = text.bm25_search(docs, terms, corpus_index="bm25_idx")
        got = {r["doc_id"]: r["score"] for r in with_idx.collect()}
        want = {
            r["doc_id"]: r["score"] for r in text.bm25_search(docs, terms).collect()
        }
        assert got.keys() == want.keys()
        for k in got:
            assert got[k] == pytest.approx(want[k], rel=1e-9)
        plan = with_idx._jdf.queryExecution().executedPlan().toString()
        assert "Generate" not in plan  # no per-query corpus explode
        assert "Bucketed: true" in plan or "SelectedBucketsCount" in plan
        assert "In(_w" in plan  # term filter pushed into the postings scan
        # rebuild at a different path must not fail or keep the old
        # external location (DROP-first contract)
        text.build_bm25_index(
            docs.limit(10), "bm25_idx", str(tmp_path / "bm25_idx2"), buckets=4
        )
        assert spark.table("bm25_idx").count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS bm25_idx")
        spark.sql("DROP TABLE IF EXISTS bm25_idx_stats")


def test_bm25_is_lazy(spark, docs):
    """Building the search frame must run NO job: corpus stats ride as
    a broadcast single-row frame, not an eager collect (the r4 advisor
    finding: the old path fired a corpus pass at plan-build time even
    if the result was never executed)."""
    sc = spark.sparkContext
    sc.setJobGroup("bm25_lazy_probe", "bm25 laziness check")
    try:
        text.bm25_search(docs, ["spark", "data"])
        assert sc.statusTracker().getJobIdsForGroup("bm25_lazy_probe") == []
    finally:
        sc.setJobGroup(None, None)


def test_bm25_duplicate_terms_equal_deduped(spark, docs):
    a = {r["doc_id"]: r["score"]
         for r in text.bm25_search(docs, ["spark", "spark", "data"]).collect()}
    b = {r["doc_id"]: r["score"]
         for r in text.bm25_search(docs, ["spark", "data"]).collect()}
    assert a == b


def test_dedup_paragraphs_semantics(spark):
    """Corpus-duplicated paragraphs are removed everywhere; unique
    paragraphs and paragraph ORDER survive; blank paragraphs are
    structure (never counted, never removed); a paragraph repeated
    within ONE doc counts as duplicated."""
    rows = [
        (1, "alpha unique\n\nshared footer\n\nbeta unique"),
        (2, "gamma unique\n\nshared footer"),
        (3, "self rep\n\nself rep\n\ndelta unique"),
        (4, ""),  # empty doc: one blank paragraph, untouched
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in dedup.dedup_paragraphs(df, min_count=2).collect()
    }
    assert out[1]["text_clean"] == "alpha unique\n\nbeta unique"
    assert out[1]["n_paras"] == 3 and out[1]["n_dropped"] == 1
    assert out[2]["text_clean"] == "gamma unique"
    assert out[3]["text_clean"] == "delta unique"  # within-doc repeat gone
    assert out[3]["n_dropped"] == 2
    assert out[4]["text_clean"] == "" and out[4]["n_dropped"] == 0


def test_dedup_paragraphs_order_preserved_across_many(spark):
    """Reassembly must follow original positions, not hash order."""
    paras = [f"para number {i}" for i in range(30)]
    df = spark.createDataFrame(
        [(1, "\n\n".join(paras))], "doc_id long, text string"
    )
    out = dedup.dedup_paragraphs(df, min_count=2).collect()[0]
    assert out["text_clean"] == "\n\n".join(paras)  # nothing duplicated


def test_pack_sequences_invariants(spark, docs):
    """Within every shard: offsets are the exact running token sum in
    id order (no gaps, no overlap), pack ids are derived from offsets,
    and zero-token docs occupy no space."""
    from pufs_spark.operators.pipeline import pack_sequences

    budget = 100
    out = pack_sequences(docs, budget=budget).collect()
    by_shard: dict = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    assert len(by_shard) > 1  # md5 actually shards
    for shard, rows in by_shard.items():
        rows.sort(key=lambda r: r["doc_id"])
        expect_off = 0
        for r in rows:
            assert r["tok_offset"] == expect_off, (shard, r)
            assert r["start_pack"] == r["tok_offset"] // budget
            if r["n_tokens"] > 0:
                assert r["end_pack"] == (r["tok_offset"] + r["n_tokens"] - 1) // budget
            else:
                assert r["end_pack"] == r["start_pack"]
            expect_off += r["n_tokens"]


def test_pack_sequences_partition_invariant(spark, docs):
    """The layout is content-keyed: recomputing over a repartitioned
    input yields the identical assignment."""
    from pufs_spark.operators.pipeline import pack_sequences

    a = sorted(map(tuple, pack_sequences(docs, budget=64).collect()))
    b = sorted(
        map(tuple, pack_sequences(docs.repartition(13), budget=64).collect())
    )
    assert a == b


def test_update_bm25_index_equals_full_rebuild(spark, docs, tmp_path_factory):
    """Index built on half the corpus then incrementally updated with
    the other half must answer queries identically to an index built on
    the whole corpus in one shot (exact stats composition, appended
    bucketed postings)."""
    wh = tmp_path_factory.mktemp("bm25_inc")
    half_a = docs.where(F.col("doc_id") % 2 == 0)
    half_b = docs.where(F.col("doc_id") % 2 == 1)
    q = ["spark", "join", "window"]

    text.build_bm25_index(docs, "bm25_full", str(wh / "full"))
    text.build_bm25_index(half_a, "bm25_inc", str(wh / "inc"))
    text.update_bm25_index(half_b, "bm25_inc", str(wh / "inc"))
    try:
        full = {
            r["doc_id"]: r["score"]
            for r in text.bm25_search(docs, q, corpus_index="bm25_full").collect()
        }
        inc = {
            r["doc_id"]: r["score"]
            for r in text.bm25_search(docs, q, corpus_index="bm25_inc").collect()
        }
        assert set(full) == set(inc) and full
        for k in full:
            assert abs(full[k] - inc[k]) < 1e-9, k
    finally:
        for t in ("bm25_full", "bm25_inc"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            spark.sql(f"DROP TABLE IF EXISTS {t}_stats")


def test_dedup_keep_longest_policy(spark):
    """keep="longest": within each near-dup group the longest text
    survives (ties break to min id); untouched docs always survive;
    unknown policies fail loudly."""
    rows = [
        (1, "short"),
        (2, "the much longer version of the document"),
        (3, "untouched loner"),
        (4, "tie a"),
        (5, "tie b"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2), (4, 5)], "a long, b long")
    longest = {
        r["doc_id"]
        for r in dedup.dedup_keep_first(df, pairs, keep="longest").collect()
    }
    assert longest == {2, 3, 4}  # 2 beats 1 on length; 4 wins the tie
    min_id = {
        r["doc_id"] for r in dedup.dedup_keep_first(df, pairs).collect()
    }
    assert min_id == {1, 3, 4}
    with pytest.raises(ValueError, match="keep policy"):
        dedup.dedup_keep_first(df, pairs, keep="nope")


def test_update_bm25_index_replay_is_noop(spark, docs, tmp_path_factory):
    """An at-least-once replay of an already-applied update batch (same
    batch_id) must change neither postings nor stats — the foreachBatch
    retry case the non-transactional two-write update must survive."""
    wh = tmp_path_factory.mktemp("bm25_replay")
    half_a = docs.where(F.col("doc_id") % 2 == 0)
    half_b = docs.where(F.col("doc_id") % 2 == 1)
    q = ["spark", "join", "window"]
    text.build_bm25_index(half_a, "bm25_rp", str(wh / "idx"))
    try:
        text.update_bm25_index(half_b, "bm25_rp", str(wh / "idx"), batch_id="b1")
        once = {
            r["doc_id"]: r["score"]
            for r in text.bm25_search(docs, q, corpus_index="bm25_rp").collect()
        }
        text.update_bm25_index(half_b, "bm25_rp", str(wh / "idx"), batch_id="b1")
        twice = {
            r["doc_id"]: r["score"]
            for r in text.bm25_search(docs, q, corpus_index="bm25_rp").collect()
        }
        assert once == twice and once
        stats = spark.table("bm25_rp_stats").collect()[0]
        assert stats["_batches"] == ["b1"]
        assert stats["_n_total"] == docs.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS bm25_rp")
        spark.sql("DROP TABLE IF EXISTS bm25_rp_stats")


def test_sigs_broadcast_cap_scales_with_heap(spark):
    """ADVICE r12: the signature-broadcast cap was a constant sized for
    the 32g default heap; with PUFS_DRIVER_MEM overridden lower the
    hinted broadcast could re-create the OOM it was built to prevent.
    The cap must derive from the session's actual heap."""
    assert dedup._parse_mem("32g") == 32 << 30
    assert dedup._parse_mem("8192m") == 8 << 30
    assert dedup._parse_mem("512k") == 512 << 10
    assert dedup._parse_mem("1024") == 1024

    cap = dedup._sigs_broadcast_cap(spark)
    heap = dedup._parse_mem(spark.conf.get("spark.driver.memory", "8g"))
    assert cap == max(10_000, min(dedup._SIGS_BROADCAST_CEIL, heap // 60_000))
    # the measured-safe point: 32 GiB -> ~572k docs (was the 600k const)
    assert abs((32 << 30) // 60_000 - 600_000) < 40_000


def test_lsh_topk_shapes_agree(spark, emb):
    """The size-gated physical shapes (inline vectors vs id-only +
    join-back, r14) must return identical rows — only placement of the
    vector bytes changes. Forced via n_rows on either side of
    _VEC_INLINE_MAX_ROWS with every other parameter pinned."""
    q = emb.where(F.col("vec_id") % 50 == 0)
    kw = dict(k=3, n_planes=6, n_tables=8)
    n = emb.count()
    inline = similarity.lsh_topk(q, emb, n_rows=n, **kw)  # n << cap
    assert n <= similarity._VEC_INLINE_MAX_ROWS
    joined = similarity.lsh_topk(
        q, emb, n_rows=similarity._VEC_INLINE_MAX_ROWS + 1, **kw
    )
    a = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in inline.collect()}
    b = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in joined.collect()}
    assert a == b and len(a) > 0


def test_near_dup_lsh_shapes_agree(spark, emb):
    """Same shape-equality pin for embedding_near_dup_pairs_lsh."""
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    pert = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            F.col("embedding").cast("array<double>"), lambda x: x + F.lit(0.005)
        ).alias("embedding"),
    )
    corpus = base.unionByName(pert)
    n = corpus.count()
    kw = dict(threshold=0.95, n_planes=6, n_tables=8)
    inline = similarity.embedding_near_dup_pairs_lsh(corpus, n_rows=n, **kw)
    joined = similarity.embedding_near_dup_pairs_lsh(
        corpus, n_rows=similarity._VEC_INLINE_MAX_ROWS + 1, **kw
    )
    a = {(r["a"], r["b"]) for r in inline.collect()}
    b = {(r["a"], r["b"]) for r in joined.collect()}
    assert a == b and len(a) > 0
