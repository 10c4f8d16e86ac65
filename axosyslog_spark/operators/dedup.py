"""Deduplication for training-data pipelines: exact, n-gram Jaccard,
MinHash(+LSH), SimHash, embedding-cosine near-dup.

Scale notes (the whole point of each variant):
  - exact: one groupBy on a 16-byte digest — the cheapest, always run
    first; at 100 TB this is a single hash shuffle of digests only.
  - n-gram Jaccard via inverted index: exact pairwise similarity but
    the shingle self-join is quadratic in bucket size — only usable
    as the VERIFY stage on candidate pairs.
  - MinHash+LSH: the scale path. Signatures are per-doc (linear);
    banding turns near-dup search into an equi-join on band keys, so
    Spark executes it as a plain shuffle join — no cross join ever.
  - SimHash: 64-bit near-dup digest; hamming-ball lookup via rotations.
  - embedding cosine: semantic near-dup; quantized int math so results
    are reproducible bit-for-bit across engines.

MinHash here is md5-based — deterministic, portable (DuckDB computes
the identical signatures, which is how the oracle gate verifies it).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from axosyslog_spark.operators.textstats import normalize_text, tokens, word_ngrams


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct normalized text,
    with the canonical (minimum) id and the duplicate count."""
    return (
        df.select(
            F.col(id_col), F.md5(normalize_text(F.col(text_col)).cast("binary")).alias("digest")
        )
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def drop_exact_dups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep only the canonical (min-id) row per digest."""
    canon = exact_dup_groups(df, id_col, text_col).select(
        F.col("canonical_id").alias(id_col)
    )
    return df.join(canon, id_col, "left_semi")


# ---------------------------------------------------------------------------
# shingles + n-gram Jaccard
# ---------------------------------------------------------------------------

def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a token array."""
    return F.array_distinct(word_ngrams(toks, n))


def shingles(text: Column, n: int = 3) -> Column:
    """Inline variant for tests/small frames — see shingles_from_tokens
    for why real tables must materialize the token array first."""
    return shingles_from_tokens(tokens(normalize_text(text)), n)


def shingle_table(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, __sh) with tokenization and shingling materialized as
    separate projections — the linear-cost shape used by every dedup
    operator below."""
    toked = df.select(
        F.col(id_col).alias("id"),
        tokens(normalize_text(F.col(text_col))).alias("__toks"),
    )
    return toked.select(
        "id", shingles_from_tokens(F.col("__toks"), n).alias("__sh")
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard similar pairs via an inverted shingle index
    (explode -> self-equi-join -> count intersections). Quadratic in
    per-shingle bucket size: use on candidate sets, not whole corpora.
    """
    sh = shingle_table(df, id_col, text_col, n).withColumnRenamed(
        "__sh", "sh"
    ).withColumn("n_sh", F.size("sh"))
    inv = sh.select("id", "n_sh", F.explode("sh").alias("g"))
    a, b = inv.alias("a"), inv.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            F.col("a.n_sh").alias("n1"),
            F.col("b.n_sh").alias("n2"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    # jaccard scaled to integer millionths via floor(double-div): both
    # operands are exact ints, IEEE division is exactly rounded, so any
    # engine reproduces the same bigint (no round-half-mode traps)
    jac = inter.withColumn(
        "jaccard_e6",
        F.floor(
            (F.col("inter") * 1_000_000).cast("double")
            / (F.col("n1") + F.col("n2") - F.col("inter"))
        ).cast("bigint"),
    )
    return jac.filter(F.col("jaccard_e6") >= int(threshold * 1_000_000)).select(
        "id1", "id2", "jaccard_e6"
    )


# ---------------------------------------------------------------------------
# MinHash + LSH (md5-based, engine-portable)
# ---------------------------------------------------------------------------

def minhash_components(sh: Column, k: int) -> list[Column]:
    """k MinHash components over an ALREADY-MATERIALIZED shingle array
    column: component j = min(md5(shingle || '#j')). min over hex
    digests == min-hash permutation j; md5 makes the signature
    reproducible in any engine.

    Callers must pass ``sh`` as a plain column reference — passing the
    shingles() expression inline duplicates its regex/split subtree
    into every component (codegen does not CSE across array lambdas;
    measured ~50x slower at 5k docs)."""

    def hasher(j: int):
        # NOTE: a `lambda g, j=j:` default-arg closure would NOT work —
        # pyspark higher-order functions bind every lambda parameter to
        # a Column (the 2nd becomes the element index)
        salt = f"#{j}"
        return lambda g: F.md5(F.concat(g, F.lit(salt)).cast("binary"))

    return [F.array_min(F.transform(sh, hasher(j))) for j in range(k)]


def minhash_bands(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """Wide per-doc band digests: (id, band_0..band_{bands-1}).
    Docs without shingles (fewer than n tokens) are excluded.

    Three-step projection: shingles -> signature components -> band
    digests, each materialized so no expression subtree is duplicated
    (the linear, 100 TB-safe shape)."""
    rpb = k // bands
    sh = shingle_table(df, id_col, text_col, n).filter(F.size("__sh") > 0)
    sig = sh.select(
        "id",
        *[c.alias(f"sig_{j}") for j, c in enumerate(minhash_components(F.col("__sh"), k))],
    )
    band_cols = [
        F.md5(
            F.concat_ws("|", *[F.col(f"sig_{b * rpb + j}") for j in range(rpb)]).cast("binary")
        ).alias(f"band_{b}")
        for b in range(bands)
    ]
    return sig.select("id", *band_cols)


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """LSH banding: docs sharing any band digest become candidate
    pairs. rows_per_band = k/bands; a band digest is the md5 of its
    components. Returns distinct (id1 < id2) candidates — an EQUI-join
    on (band_idx, band_digest), the 100 TB-safe path."""
    banded = minhash_bands(df, id_col, text_col, k, bands, n)
    stacked = banded.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band_idx"), F.col(f"band_{b}").alias("digest"))
                for b in range(bands)
            ])
        ).alias("bd"),
    ).select("id", "bd.band_idx", "bd.digest")
    a, b_ = stacked.alias("a"), stacked.alias("b")
    return (
        a.join(
            b_,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.digest") == F.col("b.digest"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .distinct()
    )


def minhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Full MinHash pipeline: LSH candidates verified with exact
    Jaccard (candidate set only — never all pairs). Each candidate
    pair joins its two shingle sets by id and intersects them; shingle
    sets are distinct, so the intersection size is the shared count
    jaccard_pairs would compute."""
    cand = minhash_lsh_candidates(df, id_col, text_col, k, bands, n)
    sh = shingle_table(df, id_col, text_col, n)
    side = lambda i: sh.select(  # noqa: E731
        F.col("id").alias(f"id{i}"), F.col("__sh").alias(f"sh{i}")
    )
    pairs = cand.join(side(1), "id1").join(side(2), "id2")
    inter = F.size(F.array_intersect("sh1", "sh2")).cast("bigint")
    # same integer-exact scaling as jaccard_pairs
    jac = F.floor(
        (inter * 1_000_000).cast("double")
        / (F.size("sh1") + F.size("sh2") - inter)
    ).cast("bigint")
    return (
        pairs.select("id1", "id2", jac.alias("jaccard_e6"))
        .filter(F.col("jaccard_e6") >= int(threshold * 1_000_000))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(text: Column, bits: int = 32, n: int = 3) -> Column:
    """SimHash digest: per-bit majority vote over shingle hashes.

    Bit i of the digest = sign of sum over shingles of (+1/-1) from
    bit i of xxhash64(shingle). 32 bits keeps the per-bit transforms
    compact; columnar, no UDF."""
    return _simhash_from_hashes(
        F.transform(shingles(text, n), lambda g: F.xxhash64(g)), bits
    )


def _simhash_from_hashes(h: Column, bits: int) -> Column:
    def voter(mask: int):
        return lambda acc, x: acc + F.when(
            x.bitwiseAND(F.lit(mask)) != 0, 1
        ).otherwise(-1)

    bit_exprs = []
    for i in range(bits):
        vote = F.aggregate(h, F.lit(0).cast("long"), voter(1 << i))
        bit_exprs.append(F.when(vote > 0, F.lit(1 << i)).otherwise(F.lit(0)))
    out = bit_exprs[0]
    for e in bit_exprs[1:]:
        out = out + e
    return out.cast("long")


def simhash_df(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    bits: int = 32, n: int = 3,
) -> DataFrame:
    """(id, sh) simhash digests with the shingle-hash array
    materialized first (the 32 per-bit votes read an attribute, not 32
    copies of the shingle expression tree)."""
    hashed = shingle_table(df, id_col, text_col, n).select(
        "id", F.transform(F.col("__sh"), lambda g: F.xxhash64(g)).alias("__h")
    )
    return hashed.select("id", _simhash_from_hashes(F.col("__h"), bits).alias("sh"))


def simhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 3,
    band_bits: int = 8,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming.

    Blocking: split the digest into bands of band_bits; by pigeonhole
    any pair within hamming <= (bands-1) shares at least one exact
    band -> equi-join on (band_idx, band_value), then verify distance.
    """
    sh = simhash_df(df, id_col, text_col, bits)
    n_bands = bits // band_bits
    stacked = sh.select(
        "id",
        "sh",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_idx"),
                    F.shiftrightunsigned(F.col("sh"), b * band_bits)
                    .bitwiseAND(F.lit((1 << band_bits) - 1))
                    .alias("band_val"),
                )
                for b in range(n_bands)
            ])
        ).alias("bd"),
    ).select("id", "sh", "bd.band_idx", "bd.band_val")
    a, b = stacked.alias("a"), stacked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            F.col("a.sh").alias("sh1"),
            F.col("b.sh").alias("sh2"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sh1").bitwiseXOR(F.col("sh2")))
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id1", "id2", "hamming")
    )


# ---------------------------------------------------------------------------
# benchmark decontamination + duplicate clustering
# ---------------------------------------------------------------------------


def contamination(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag training docs that share any
    word n-gram with an evaluation/benchmark corpus — the 13-gram
    overlap rule GPT-3/Gopher-style pipelines apply before training.
    Returns one row per contaminated doc:
    (id, contaminated_grams, sample_gram).

    Scale shape: the benchmark's distinct grams are tiny relative to
    a 100 TB corpus -> broadcast hash join; the corpus side explodes
    shingles once and equi-joins. No all-pairs, no shuffle of the
    corpus beyond the final per-doc aggregation."""
    d = shingle_table(docs, id_col, text_col, n).select(
        "id", F.explode("__sh").alias("gram")
    )
    b = (
        shingle_table(bench, bench_id_col, bench_text_col, n)
        .select(F.explode("__sh").alias("gram"))
        .distinct()
    )
    return (
        d.join(F.broadcast(b), "gram")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("contaminated_grams"),
            F.min("gram").alias("sample_gram"),
        )
    )


def dup_clusters(
    pairs: DataFrame,
    ids: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 25,
) -> DataFrame:
    """Connected components over near-duplicate pairs — the
    keep-one-per-cluster step after MinHash verification. Each doc
    gets cluster = min doc id reachable through dup edges (singletons
    are their own cluster); `canonical` marks the one doc to keep.

    Iterative min-label propagation WITH pointer jumping: every pass
    first lowers each node's label to the min over itself and its
    neighbours' labels (the min travels one hop), then shortcuts
    through the label graph (``cluster <- label(cluster)``) so known
    distances double — convergence in O(log diameter) passes rather
    than diameter passes (a 500-node chain converges in ~12; near-dup
    clusters are small and dense, 2-4 in practice). Raises
    RuntimeError if `max_iters` passes still left labels moving —
    silently returning partially-propagated labels would diverge from
    exact reachability with no signal. One fixpoint-check action per
    pass, the standard distributed-CC shape (GraphX
    connectedComponents runs the same O(log n) rounds); each pass is
    two shuffle joins on id. Labels are localCheckpoint()ed per pass
    — without truncation the lineage (and Catalyst planning time)
    grows linearly with the pass count, which is what kills naive
    iterative DataFrame loops."""
    edges = (
        pairs.select(F.col("id1").alias("a"), F.col("id2").alias("b"))
        .union(pairs.select(F.col("id2").alias("a"), F.col("id1").alias("b")))
        .distinct()
        .localCheckpoint()
    )
    labels = ids.select(
        F.col(id_col).alias("id"), F.col(id_col).alias("cluster")
    ).localCheckpoint()
    for _ in range(max_iters):
        nbr = (
            edges.join(labels.withColumnRenamed("id", "b2"),
                       F.col("b") == F.col("b2"))
            .groupBy("a")
            .agg(F.min("cluster").alias("nmin"))
        )
        stepped = labels.join(nbr, labels["id"] == nbr["a"], "left").select(
            F.col("id"),
            F.least(
                F.col("cluster"), F.coalesce(F.col("nmin"), F.col("cluster"))
            ).alias("cluster"),
        )
        # pointer jump: shortcut each label through the label of its
        # label (cluster values are themselves doc ids present in
        # `labels`), doubling the reach per pass
        new = (
            stepped.join(
                stepped.select(
                    F.col("id").alias("cid"),
                    F.col("cluster").alias("ccluster"),
                ),
                F.col("cluster") == F.col("cid"),
                "left",
            )
            .select(
                F.col("id"),
                F.least(
                    F.col("cluster"),
                    F.coalesce(F.col("ccluster"), F.col("cluster")),
                ).alias("cluster"),
            )
            .localCheckpoint()
        )
        changed = (
            new.withColumnRenamed("cluster", "nc")
            .join(labels, "id")
            .filter(F.col("nc") != F.col("cluster"))
            .count()
        )
        labels = new
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"dup_clusters: labels still moving after max_iters="
            f"{max_iters} passes ({changed} changed) — component "
            f"diameter exceeds the iteration budget; raise max_iters"
        )
    return labels.select(
        F.col("id").alias(id_col),
        "cluster",
        (F.col("id") == F.col("cluster")).alias("canonical"),
    )


def substring_spans(
    df: DataFrame,
    k: int = 5,
    min_tokens: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring dedup (Lee et al. 2021, "Deduplicating Training
    Data Makes Language Models Better"): for every document pair that
    shares an exact run of >= `min_tokens` tokens, report the longest
    shared span and the number of shared k-gram fingerprints.

    Suffix arrays don't distribute; the equivalent column algebra is
    the k-gram DIAGONAL trick: positional k-grams equi-join across
    documents, and a shared token run of length L shows up as L-k+1
    consecutive join hits on one diagonal (j - i constant). A
    gaps-and-islands pass (island = i - row_number over the diagonal)
    measures each run exactly — longest_span = max_run + k - 1.

    Scale shape: explode positional grams (linear), ONE equi-join on
    the gram digest (near-dup pairs only — no cross join; a stop-gram
    cap like minhash banding applies if a gram is pathologically
    common), then per-pair window + agg. No driver-side loops.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        tokens(normalize_text(F.col(text_col))).alias("__toks"),
    )
    n = F.size("__toks") - (k - 1)
    grams = toks.select(
        "id",
        F.posexplode(
            F.when(
                n >= 1,
                F.transform(
                    F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
                    lambda i: F.md5(
                        F.array_join(
                            F.slice("__toks", i, k), " "
                        ).cast("binary")
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pos", "g"),
    )
    a = grams.alias("a")
    b = grams.alias("b")
    hits = a.join(b, "g").filter(F.col("a.id") < F.col("b.id")).select(
        F.col("a.id").alias("id1"),
        F.col("b.id").alias("id2"),
        F.col("a.pos").alias("i"),
        (F.col("b.pos") - F.col("a.pos")).alias("diag"),
    )
    w = Window.partitionBy("id1", "id2", "diag").orderBy("i")
    runs = (
        hits.withColumn("__island", F.col("i") - F.row_number().over(w))
        .groupBy("id1", "id2", "diag", "__island")
        .agg(F.count(F.lit(1)).alias("run"))
    )
    return (
        runs.groupBy("id1", "id2")
        .agg(
            (F.max("run") + (k - 1)).alias("longest_span_tokens"),
            F.sum("run").alias("shared_grams"),
        )
        .filter(F.col("longest_span_tokens") >= min_tokens)
    )
