"""Training-data pipeline operators: dedup, similarity, text analysis,
multimodal plumbing."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from axosyslog_spark.operators import dedup, multimodal, similarity, textstats

DOCS = [
    (0, "The quick brown fox jumps over the lazy dog near the river bank today"),
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup (case)
    (2, "The quick brown fox jumps over the lazy dog near the river bank yesterday"),  # near dup
    (3, "completely different content about database query optimization and joins"),
    (4, "zzz qqq xxx"),  # junk
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    groups = dedup.exact_dup_groups(docs).collect()
    dup_group = [g for g in groups if g.n_dups > 1]
    assert len(dup_group) == 1
    assert dup_group[0].canonical_id == 0 and dup_group[0].n_dups == 2
    kept = dedup.drop_exact_dups(docs).select("doc_id").collect()
    assert sorted(r.doc_id for r in kept) == [0, 2, 3, 4]


def test_jaccard_pairs(spark, docs):
    pairs = {(r.id1, r.id2): r.jaccard_e6 for r in dedup.jaccard_pairs(docs, threshold=0.5).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1_000_000
    assert (0, 2) in pairs and 500_000 <= pairs[(0, 2)] < 1_000_000
    assert not any(3 in p or 4 in p for p in pairs)


def test_minhash_lsh_finds_near_dups(spark, docs):
    got = {(r.id1, r.id2): r.jaccard_e6 for r in dedup.minhash_near_dups(docs, threshold=0.5).collect()}
    # exact dups always collide in every band; near dups should too here
    assert (0, 1) in got
    assert (0, 2) in got
    assert not any((p[0], p[1]) == (0, 3) for p in got)


def test_simhash_near_dups(spark, docs):
    sh = docs.select(dedup.simhash(F.col("text")).alias("s")).collect()
    assert len({r.s for r in sh}) >= 3  # distinct docs get distinct digests
    pairs = {(r.id1, r.id2): r.hamming for r in dedup.simhash_near_dups(
        docs, max_hamming=6).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 0
    assert (0, 2) in pairs


def test_text_profile(spark, docs):
    prof = {r.doc_id: r for r in textstats.text_profile(docs).collect()}
    assert prof[0].n_tokens == 14
    assert prof[0].lang_guess == "en"
    assert prof[4].lang_guess == "unknown"
    assert prof[0].quality > prof[4].quality
    assert prof[0].fingerprint == prof[1].fingerprint      # normalization
    assert prof[0].fingerprint != prof[2].fingerprint


@pytest.fixture(scope="module")
def vectors(spark):
    # 8-dim embeddings: v1 ~ v0 (same direction), v2 orthogonal-ish
    rows = [
        (0, [1.0, 0.0, 0.5, 0.0, 0.2, 0.0, 0.0, 0.1]),
        (1, [0.9, 0.05, 0.45, 0.0, 0.2, 0.0, 0.0, 0.1]),
        (2, [0.0, 1.0, 0.0, 0.8, 0.0, 0.3, 0.0, 0.0]),
        (3, [0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0, 0.0]),
        (4, [1.0, 0.0, 0.5, 0.0, 0.2, 0.0, 0.0, 0.1]),  # == v0
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk(spark, vectors):
    q = vectors.filter(F.col("vec_id") == 0)
    top = similarity.brute_force_topk(vectors, q, k=2).collect()
    assert [r.neighbor_id for r in top] == [4, 1]   # identical first, then close
    assert top[0].cos_e6 in (999_999, 1_000_000)


def test_lsh_topk_finds_identical(spark, vectors):
    q = vectors.filter(F.col("vec_id") == 0)
    top = similarity.lsh_topk(vectors, q, dim=8, k=2, n_planes=4).collect()
    # identical vector shares every hyperplane sign -> always a candidate
    assert top and top[0].neighbor_id == 4


def test_embedding_near_dups(spark, vectors):
    pairs = {(r.id1, r.id2): r.cos_e6 for r in similarity.embedding_near_dups(
        vectors, threshold=0.99, dim=8).collect()}
    assert (0, 4) in pairs
    assert (0, 1) in pairs
    assert not any(3 in p for p in pairs)


def test_multimodal_roundtrip(spark, docs):
    media = multimodal.synthesize_media(docs, "doc_id", "text")
    assert [(f.name, f.dataType) for f in media.schema.fields] == [
        (f.name, f.dataType) for f in multimodal.MEDIA_SCHEMA.fields
    ]
    decoded = multimodal.decode_media(media)
    rows = {r.media_id: r for r in decoded.collect()}
    assert set(rows) == {0, 1, 2, 3, 4}
    assert rows[0].n_bytes == len(DOCS[0][1])
    assert rows[0].width >= 64 and rows[0].height >= 64
    # images have no duration; only videos have multiple frames
    for r in rows.values():
        if r.kind == "image":
            assert r.duration_ms == 0 and r.n_frames == 1
    # deterministic: same payload -> same feature hash
    m2 = {r.media_id: r for r in multimodal.decode_media(media).collect()}
    assert all(m2[k].feature_hash == rows[k].feature_hash for k in rows)


def test_resize_and_frames(spark, docs):
    media = multimodal.synthesize_media(docs, "doc_id", "text")
    resized = multimodal.resize_images(media, max_side=100).collect()
    assert resized and all(max(r.width, r.height) <= 100 for r in resized)
    frames = multimodal.sample_frames(media, every_n=2).collect()
    assert frames and all(r.frame_idx % 2 == 0 for r in frames)


def test_embedding_near_dups_lsh_equals_exact_fixture(spark):
    """The default (LSH-bucketed) near-dup path must not lose any pair
    the exact all-pairs join finds on the driver fixture — the
    candidates→verify composition is lossless at the planned table
    count (VERDICT r1 item 2)."""
    # sf0.01 is the smallest fixture with a qualifying pair at 0.5
    embs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    exact = {
        (r.id1, r.id2): r.cos_e6
        for r in similarity.embedding_near_dups(
            embs, threshold=0.5, method="exact"
        ).collect()
    }
    lsh = {
        (r.id1, r.id2): r.cos_e6
        for r in similarity.embedding_near_dups(
            embs, threshold=0.5, dim=64
        ).collect()
    }
    assert exact, "fixture lost its qualifying pair"
    assert lsh == exact, (len(exact), len(lsh))


def test_ivf_topk_exact_when_probing_all_lists(spark):
    """nprobe == n_lists means every list is searched -> IVF must
    reproduce brute force EXACTLY (same ids, ranks, cosines)."""
    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = embs.filter(F.col("vec_id") < 10)
    truth = sorted(
        map(tuple, similarity.brute_force_topk(embs, qs, k=5).collect())
    )
    full = sorted(
        map(
            tuple,
            similarity.ivf_topk(embs, qs, k=5, n_lists=8, nprobe=8).collect(),
        )
    )
    assert full == truth


def test_ivf_topk_recall_vs_brute_force(spark):
    """nprobe=4 of 16 lists searches ~1/4 of the corpus per query;
    recall@5 floor measured on the fixture (uniform-random vectors —
    the worst case for any space partitioner)."""
    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = embs.filter(F.col("vec_id") < 10)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(embs, qs, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_topk(
            embs, qs, k=5, n_lists=16, nprobe=4
        ).collect()
    }
    recall = len(truth & approx) / len(truth)
    # measured 0.58 on the fixture — vs 0.25 for a RANDOM quarter of
    # the corpus, i.e. the space partitioning earns 2.3x over chance
    # even on uniform vectors; clustered real embeddings do far better
    assert recall >= 0.45, recall


def test_lsh_topk_recall_vs_brute_force(spark):
    """Multi-table recall@5 >= 0.9 against brute force on the fixture."""
    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = embs.filter(F.col("vec_id") < 10)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(embs, qs, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in similarity.lsh_topk(embs, qs, dim=64, k=5).collect()
    }
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.9, recall


def test_contamination_flags_overlapping_docs(spark):
    from axosyslog_spark.operators.dedup import contamination

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated content here right now"),
            (3, "brown fox jumps high above everything else"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "watch the quick brown fox jumps away")],
        "doc_id long, text string",
    )
    out = {r["id"]: r.asDict() for r in contamination(docs, bench, n=3).collect()}
    # doc 1 shares 'the quick brown'/'quick brown fox'/'brown fox jumps',
    # doc 3 shares 'brown fox jumps'; doc 2 is clean
    assert set(out) == {1, 3}
    assert out[1]["contaminated_grams"] == 3
    assert out[3]["contaminated_grams"] == 1
    assert out[3]["sample_gram"] == "brown fox jumps"


def test_dup_clusters_connected_components(spark):
    from axosyslog_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(
        # chain 1-2-3 (transitive), island 5-6, singleton 4
        [(1, 2), (2, 3), (5, 6)], "id1 long, id2 long"
    )
    ids = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    out = {r["doc_id"]: (r["cluster"], r["canonical"])
           for r in dup_clusters(pairs, ids).collect()}
    assert out[1] == (1, True) and out[2] == (1, False) and out[3] == (1, False)
    assert out[4] == (4, True)
    assert out[5] == (5, True) and out[6] == (5, False)
    assert out[7] == (7, True)


def test_dup_clusters_long_chain_converges(spark):
    """A 500-node path graph (diameter 499) must converge inside the
    default max_iters=25 budget — pointer jumping doubles the label
    reach per pass, so convergence is O(log diameter), not
    O(diameter)."""
    from axosyslog_spark.operators.dedup import dup_clusters

    n = 500
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "id1 long, id2 long"
    )
    ids = spark.createDataFrame([(i,) for i in range(1, n + 1)], "doc_id long")
    out = dup_clusters(pairs, ids).collect()
    assert all(r["cluster"] == 1 for r in out)
    assert sum(r["canonical"] for r in out) == 1


def test_dup_clusters_raises_on_exhausted_budget(spark):
    """Exiting via max_iters with labels still moving must raise, not
    silently return partially-propagated labels."""
    import pytest

    from axosyslog_spark.operators.dedup import dup_clusters

    n = 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "id1 long, id2 long"
    )
    ids = spark.createDataFrame([(i,) for i in range(1, n + 1)], "doc_id long")
    with pytest.raises(RuntimeError, match="max_iters"):
        dup_clusters(pairs, ids, max_iters=2)


def test_gopher_repetition_signals(spark):
    from axosyslog_spark.operators.textstats import gopher_repetition

    docs = spark.createDataFrame(
        [
            # 4 lines, 'same line' repeated twice -> 1/4 dup lines
            (1, "same line\nother text\nsame line\nunique end"),
            # heavy bigram repetition: 'buy now' x3
            (2, "buy now buy now buy now please"),
            (3, "clean simple text"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in gopher_repetition(docs).collect()}
    assert out[1]["dup_line_e6"] == 250_000
    # repeated occurrence chars: len('same line')=9 of the 38 line
    # chars (9+10+9+10; newline separators don't count)
    assert out[1]["dup_line_char_e6"] == int(9 / 38 * 1e6)
    assert out[2]["top_gram"] == "buy now"
    assert out[2]["top_gram_count"] == 3
    # 'buy now buy now buy now please' normalized len 30, 3*7=21
    assert out[2]["top_gram_char_e6"] == 700_000
    assert out[3]["dup_line_e6"] == 0


def test_semantic_dedup_composition(spark):
    """semantic_dedup == near-dup pairs -> connected components; LSH
    and exact paths agree on the fixture; exactly one canonical per
    cluster and singletons are their own canonical."""
    embs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    out = {r.vec_id: (r.cluster, r.canonical)
           for r in similarity.semantic_dedup(
               embs, threshold=0.5, dim=64).collect()}
    exact = {r.vec_id: (r.cluster, r.canonical)
             for r in similarity.semantic_dedup(
                 embs, threshold=0.5, method="exact").collect()}
    assert out == exact
    assert len(out) == embs.count()
    # every cluster's canonical is the min member and appears once
    from collections import defaultdict
    members = defaultdict(list)
    for vid, (cl, canon) in out.items():
        members[cl].append((vid, canon))
    for cl, ms in members.items():
        canons = [vid for vid, c in ms if c]
        assert canons == [cl] and cl == min(v for v, _ in ms)
    # the dup pairs ended up in shared clusters
    pairs = similarity.embedding_near_dups(
        embs, threshold=0.5, method="exact").collect()
    assert pairs
    for p in pairs:
        assert out[p.id1][0] == out[p.id2][0]


# ---------------------------------------------------------------------------
# TF-IDF top terms / CCNet rarity buckets / C4 cleaning rules (round 5)
# ---------------------------------------------------------------------------

def test_tfidf_top_terms(spark):
    df = spark.createDataFrame(
        [
            (1, "apple apple banana common common common"),
            (2, "banana cherry common common"),
            (3, "common common common common"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r.doc_id, r.rank): (r.term, r.tf, r.df, r.score_e6)
        for r in textstats.tfidf_top_terms(df, k=2).collect()
    }
    # doc 1: apple tf=2 df=1 idf=3e6 -> 6e6 beats common tf=3 df=3 -> 3e6
    assert out[(1, 1)] == ("apple", 2, 1, 6_000_000)
    assert out[(1, 2)] == ("common", 3, 3, 3_000_000)
    # doc 2: cherry tf=1 df=1 -> 3e6 beats common tf=2 df=3 -> 2e6
    assert out[(2, 1)] == ("cherry", 1, 1, 3_000_000)
    assert out[(2, 2)] == ("common", 2, 3, 2_000_000)
    # doc 3: only one distinct term
    assert out[(3, 1)] == ("common", 4, 3, 4_000_000)
    assert (3, 2) not in out


def test_unigram_rarity_buckets(spark):
    # 6 docs; each rare token occurs exactly ONCE in the corpus, so a
    # doc's mean rarity grows strictly with its rare-token share
    rows = [
        (i, " ".join(["common"] * (6 - i)
                     + ["rare%d_%d" % (i, j) for j in range(i)]))
        for i in range(6)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: (r.rarity_e6, r.bucket)
           for r in textstats.unigram_rarity_buckets(df, n_buckets=3).collect()}
    assert len(out) == 6
    # doc 0 is all-common -> head; doc 5 is nearly all-rare -> tail
    assert out[0][1] == "head" and out[5][1] == "tail"
    scores = [out[i][0] for i in range(6)]
    assert scores == sorted(scores)  # rarity grows with rare-token share
    assert [out[i][1] for i in range(6)] == [
        "head", "head", "middle", "middle", "tail", "tail"
    ]


def test_rarity_buckets_match_ntile_exactly(spark):
    """The scale-out position-arithmetic bucketing (round 6) must
    reproduce ntile(n) over (rarity_e6, id) bit-for-bit, including
    tie splits (ntile cuts ties by position) and non-divisible
    bucket sizes (17 docs / 4 buckets -> 5,4,4,4)."""
    from pyspark.sql import Window

    # many score ties: only 3 distinct texts across 17 docs
    rows = [(i, ["common common", "common rare%d" % (i % 2), "x y z"][i % 3])
            for i in range(17)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = textstats.unigram_rarity_buckets(df, n_buckets=4)
    w = Window.orderBy(F.asc("rarity_e6"), F.asc("doc_id"))
    ref = got.select("doc_id", "rarity_e6").withColumn(
        "nb", F.ntile(4).over(w)
    )
    ref_names = {
        r.doc_id: {1: "head", 4: "tail"}.get(r.nb, "middle")
        for r in ref.collect()
    }
    got_names = {r.doc_id: r.bucket for r in got.collect()}
    assert got_names == ref_names


@pytest.mark.parametrize(
    "n_rows,n_buckets",
    [(3 * 2**31 + 2, 3), (2**31 + 5, 7), (3 * 2**53 + 2, 3), (2**53 + 5, 7)],
)
def test_ntile_bucket_exact_near_2_31_and_2_53(spark, n_rows, n_buckets):
    """Bucket boundaries (the last row of a bucket and its neighbours)
    land exactly as ntile puts them at row counts where double
    division would round the position."""
    sizes = [n_rows // n_buckets + (b < n_rows % n_buckets) for b in range(n_buckets)]
    ends = list(itertools.accumulate(sizes))
    positions = sorted(
        {p for e in ends for p in (e - 1, e, e + 1) if 1 <= p <= n_rows} | {1}
    )
    want = [next(b + 1 for b, e in enumerate(ends) if p <= e) for p in positions]
    row = spark.range(1).select(*[
        textstats.ntile_bucket(F.lit(p).cast("bigint"), n_rows, n_buckets)
        for p in positions
    ]).first()
    assert list(row) == want


def test_rarity_buckets_plan_has_no_global_window(spark):
    """Round-5 verdict: the global ntile window is a single-reducer
    sort (Spark plans it as a SinglePartition exchange) that dies at
    scale. The plan must not contain one."""
    df = spark.createDataFrame(
        [(i, "a b c%d" % i) for i in range(10)], "doc_id long, text string"
    )
    out = textstats.unigram_rarity_buckets(df)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "ntile" not in plan
    physical = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in physical


def test_c4_filter_rules(spark):
    pages = [
        # kept: 5 well-formed sentences across lines
        (1, "One two three four.\nFive six seven eight. Nine ten eleven."
            "\nTwelve thirteen fourteen. And a final full line here."),
        # line rules: no-terminal + short + javascript lines all drop
        (2, "no terminal punctuation here\nso. it.\n"
            "please enable JavaScript to view this page.\n"
            "One two three four. Five six seven. Eight nine ten. "
            "Eleven twelve. Thirteen fourteen."),
        # page rules, checked in order: brace wins over lorem
        (3, "Code sample { x. One two. Three four. Five six. Seven. Eight."),
        (4, "Lorem Ipsum dolor sit amet. One two. Three four. Five. Six."),
        (5, "Too short to keep."),
    ]
    df = spark.createDataFrame(pages, "doc_id long, text string")
    out = {r.doc_id: r for r in textstats.c4_filter(df).collect()}
    assert out[1].kept and out[1].drop_reason is None
    assert out[1].n_lines == 3 and out[1].n_kept_lines == 3
    assert out[1].n_sentences == 5
    # doc 2: the three bad lines dropped, the good line keeps 5 sentences
    assert out[2].n_lines == 4 and out[2].n_kept_lines == 1
    assert out[2].kept and out[2].n_sentences == 5
    assert out[3].drop_reason == "brace"
    assert out[4].drop_reason == "lorem_ipsum"
    assert out[5].drop_reason == "too_few_sentences"
    assert not out[5].kept
    # cleaned_md5 is the md5 of the kept text (exact-dedup ready)
    import hashlib
    kept_text = pages[0][1]  # doc 1 keeps everything
    assert out[1].cleaned_md5 == hashlib.md5(kept_text.encode()).hexdigest()


def test_pii_redact(spark):
    df = spark.createDataFrame(
        [
            (1, "mail jane.doe+x@sub.example.co.uk and bob@host.org now"),
            (2, "ssn 123-45-6789 is not a phone, 555-123-4567 is"),
            (3, "host 192.168.0.1 and 10.0.0.255, dotted fone 555.123.4567"),
            (4, "nothing to redact here"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in textstats.pii_redact(df).collect()}
    assert (out[1].n_emails, out[1].n_ssns, out[1].n_phones,
            out[1].n_ipv4s) == (2, 0, 0, 0)
    # SSN claimed by the SSN pattern, NOT double-counted as a phone
    assert (out[2].n_ssns, out[2].n_phones) == (1, 1)
    # dotted phone matched by the phone pass BEFORE the ipv4 pass runs
    assert (out[3].n_ipv4s, out[3].n_phones) == (2, 1)
    assert (out[4].n_emails, out[4].n_ssns, out[4].n_phones,
            out[4].n_ipv4s) == (0, 0, 0, 0)
    import hashlib
    assert out[4].redacted_md5 == hashlib.md5(
        b"nothing to redact here").hexdigest()


def test_source_mix_rates_and_determinism(spark):
    from axosyslog_spark.operators.sampling import source_mix

    rows = [(i, "t", f"s{i % 2}") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    kept = source_mix(df, {"s0": 0.25}, default_weight=0.9).collect()
    by_src = {}
    for r in kept:
        by_src.setdefault(r.source, set()).add(r.doc_id)
    # empirical rates within 5 points of the target on 1000 draws
    assert abs(len(by_src["s0"]) / 1000 - 0.25) < 0.05
    assert abs(len(by_src["s1"]) / 1000 - 0.90) < 0.05
    # deterministic: a rerun keeps exactly the same documents
    again = {r.doc_id for r in source_mix(
        df, {"s0": 0.25}, default_weight=0.9).collect()}
    assert again == by_src["s0"] | by_src["s1"]
    # weight 0 keeps nothing, weight 1 keeps everything
    assert not source_mix(df, {"s0": 0.0, "s1": 0.0}).collect()
    assert len(source_mix(df, {}, default_weight=1.0).collect()) == 2000


def test_hash_split_exhaustive_and_stable(spark):
    from axosyslog_spark.operators.sampling import hash_split

    df = spark.createDataFrame(
        [(i, "t") for i in range(3000)], "doc_id long, text string"
    )
    out = {r.doc_id: r.split for r in hash_split(df).collect()}
    assert len(out) == 3000  # every doc lands in exactly one bucket
    frac = {
        s: sum(1 for v in out.values() if v == s) / 3000
        for s in ("train", "val", "test")
    }
    assert abs(frac["train"] - 0.8) < 0.03
    assert abs(frac["val"] - 0.1) < 0.03
    assert abs(frac["test"] - 0.1) < 0.03
    # assignment is a pure function of (id, salt): subset recomputation
    # agrees with the full run (the resumability property)
    sub = {r.doc_id: r.split for r in hash_split(
        df.filter(F.col("doc_id") < 100)).collect()}
    assert all(out[k] == v for k, v in sub.items())
    # a different salt reshuffles
    other = {r.doc_id: r.split for r in hash_split(df, salt="v2").collect()}
    assert other != out


def test_substring_spans_diagonal_runs(spark):
    from axosyslog_spark.operators.dedup import substring_spans

    docs = [
        (0, "a b c d e f g h i j k l m n"),
        (1, "x y a b c d e f g h i j z q"),      # shares a..j = 10 tokens
        (2, "completely different words here now yes"),
        (3, "a b c d e q q q a b c d e f g h"),  # longest shared w/ 0: a..h
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {(r.id1, r.id2): (r.longest_span_tokens, r.shared_grams)
           for r in substring_spans(df, k=5, min_tokens=8).collect()}
    # doc 0 vs 1: exact run "a..j" -> span 10, 6 shared 5-grams on one diag
    assert out[(0, 1)] == (10, 6)
    # doc 0 vs 3: "a b c d e f g h" (8 tokens) is the longest run
    assert out[(0, 3)][0] == 8
    # below min_tokens and disjoint docs never pair
    assert not any(2 in p for p in out)
    # raising the threshold drops the 8-token pairs
    strict = {(r.id1, r.id2) for r in
              substring_spans(df, k=5, min_tokens=9).collect()}
    assert strict == {(0, 1)}
