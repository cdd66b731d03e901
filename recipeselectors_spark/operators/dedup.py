"""Document deduplication operators — exact, MinHash-LSH, SimHash, n-gram
Jaccard — for ``documents``-shaped tables at pre-training scale.

Design for 100 TB:

* **exact**: ``groupBy(md5(text))`` — one hash-agg shuffle, map-side
  combined; keep the min doc_id per group.
* **MinHash + LSH**: shingle→hash (Catalyst ``xxhash64`` over token slices,
  zero Python), k permutations as affine transforms ``(a·x + b) mod p``
  evaluated in one vectorized numpy Arrow kernel, bands
  hashed → ``explode(bands)`` → one shuffle groups candidate buckets; exact
  Jaccard verification only within buckets (the candidate set is tiny
  relative to n²). Doc-pair space is never materialized globally.
* **SimHash**: 64-bit signatures in an Arrow pandas UDF (bit-vote kernel),
  near-dup = signatures matching on any of 4 16-bit bands (Hamming ≤ small).
* **n-gram Jaccard**: exact verified pairwise similarity, only ever applied
  within LSH buckets.

Every bucketed candidate generator (MinHash, SimHash, embedding hyperplanes,
winnowed-fingerprint postings) ends in ONE self-join, ``bucket_pairs``: the
bucket-size cap, the join on the bucket keys and ``id_a < id_b``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType

from recipeselectors_spark.functions import text as TX
from recipeselectors_spark.operators import windows as W

# 2^31-1: products of two residues stay < 2^62, safe for int64 under the
# ANSI overflow checks Spark 4 enables by default
MERSENNE_P = (1 << 31) - 1


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: one row per distinct text, keeping the smallest id."""
    return (
        df.withColumn("__h__", F.md5(F.col(text_col)))
        .groupBy("__h__")
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").alias("n_copies"),
        )
        .drop("__h__")
    )


def _perm_params(num_perm: int, seed: int) -> tuple[list[int], list[int]]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, MERSENNE_P - 1, size=num_perm, dtype=np.int64).tolist()
    b = rng.integers(0, MERSENNE_P - 1, size=num_perm, dtype=np.int64).tolist()
    return a, b


def with_minhash(
    df: DataFrame,
    text_col: str = "text",
    num_perm: int = 32,
    k_shingle: int = 3,
    seed: int = 42,
    out: str = "minhash",
) -> DataFrame:
    """MinHash signature column (array<bigint>, length num_perm):
    per-permutation ``min((a·x+b) mod p)`` over the shingle-hash array.

    The shingle hashing stays Catalyst (``TX.shingles`` — xxhash64, the
    quantity every oracle replays); the ``num_perm`` affine transforms +
    mins run as ONE vectorized numpy matmul-shaped kernel in an Arrow
    pandas UDF (guide §4.2). The round-5 form evaluated them as
    ``num_perm`` separate ``F.transform``/``F.array_min`` higher-order
    expressions — interpreted per ELEMENT, ~num_perm × shingles ops per
    document through the HOF interpreter, the measured hot spot of every
    minhash-family query. Values are bit-identical to that Catalyst form
    (kept as ``tests/oracles.minhash_catalyst``): residues stay below
    2^31, so ``h·a + b < 2^62`` never wraps int64 in either engine, and
    numpy's ``%`` of a non-negative dividend matches Spark's. One edge
    differs: a shingle hash equal to the int64 minimum, where ``np.abs``
    wraps to itself while ANSI ``F.abs`` throws — numpy's Python-style
    ``%`` still yields a valid residue in ``[0, p)``, so the kernel
    returns a well-defined signature there. Map-only, no shuffle."""
    a, b = _perm_params(num_perm, seed)
    a_np, b_np = np.asarray(a, dtype=np.int64), np.asarray(b, dtype=np.int64)
    sh = TX.shingles(text_col, k=k_shingle)
    df = df.withColumn("__sh__", sh)

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType

    @pandas_udf(ArrayType(LongType()))
    def mh(shs: pd.Series) -> pd.Series:
        acol = a_np[:, None]
        bcol = b_np[:, None]
        return pd.Series(
            [
                (
                    ((np.abs(np.asarray(arr, dtype=np.int64)) % MERSENNE_P)
                     [None, :] * acol + bcol)
                    % MERSENNE_P
                ).min(axis=1)
                for arr in shs
            ]
        )

    return df.withColumn(out, mh("__sh__")).drop("__sh__")


def minhash_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    minhash_col: str = "minhash",
    bands: int = 8,
    num_perm: int | None = None,
) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidate pairs.
    Returns (band, bucket, doc_id) — one ``explode`` + one shuffle.
    Pass ``num_perm`` explicitly to skip the signature-length probe action
    (required for STREAMING inputs, where an eager ``first()`` is illegal).
    """
    n = num_perm if num_perm is not None else df.select(F.size(minhash_col)).first()[0]
    rows_per_band = n // bands
    band_hashes = F.array(
        *[
            F.xxhash64(
                F.concat_ws(
                    ",",
                    *[
                        F.col(minhash_col)[i].cast("string")
                        for i in range(b * rows_per_band, (b + 1) * rows_per_band)
                    ],
                ),
                F.lit(b),
            )
            for b in range(bands)
        ]
    )
    return (
        df.withColumn("__bands__", band_hashes)
        .select(id_col, F.posexplode("__bands__").alias("band", "bucket"))
    )


def drop_exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep ONE whole row (smallest id) per exact text hash —
    ``windows.top_k_per_group`` with k = 1 on ``md5(text)``: a single
    md5-partitioned window (one exchange), no join back. NULL texts form
    one group. Every other column is kept; an input column named ``rank``
    raises ``ValueError`` (the window writes its own)."""
    kept = W.top_k_per_group(df, 1, F.md5(F.col(text_col)), (id_col,))
    return kept.drop("rank")


def dedup_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_perm: int = 32,
    bands: int = 8,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """The standard pretraining-corpus dedup composition: exact-dedup FIRST
    (kills the degenerate LSH buckets that make the pair join quadratic),
    then MinHash-LSH near-dup on the representatives, dropping the larger id
    of each near-dup pair (keep-first approximation of the duplicate
    clusters — full transitive closure is an iterative union-find, out of
    scope for one pass). Returns the deduplicated corpus."""
    uniq = drop_exact_duplicates(df, text_col, id_col)
    pairs = minhash_dedup_pairs(
        uniq, id_col=id_col, text_col=text_col, num_perm=num_perm,
        bands=bands, threshold=threshold, max_bucket=max_bucket,
    )
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return uniq.join(losers, id_col, "left_anti")


def bucket_pairs(
    banded: DataFrame,
    id_col: str,
    max_bucket: int | None,
    keys: tuple[str, ...] = ("band", "bucket"),
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """The one LSH candidate-pair join: ``(id_a, id_b)`` with id_a < id_b,
    plus ``<c>_a``/``<c>_b`` for each ``carry`` column, one row per shared
    ``keys`` value (callers dedupe pairs that share several buckets).

    Buckets with more than ``max_bucket`` rows are dropped BEFORE the
    self-join (the skew guard; "DS2: Handling Data Skew", ICDE 2021): on
    boilerplate-heavy corpora one degenerate bucket (thousands of
    near-identical docs) makes the join quadratic; the standard mitigation
    is to exact-dedup first and cap the rest. The count window
    hash-partitions on the join keys, so Catalyst reuses one exchange.
    ``None`` keeps every bucket. Callers place their own
    ``localCheckpoint`` barrier on ``banded`` when it holds a costly
    expression, so it is not re-evaluated on each join side."""
    if max_bucket is not None:
        from pyspark.sql.window import Window

        w = Window.partitionBy(*[F.col(k) for k in keys])
        banded = (
            banded.withColumn("__bsz__", F.count("*").over(w))
            .where(F.col("__bsz__") <= max_bucket)
            .drop("__bsz__")
        )
    return (
        banded.alias("a")
        .join(banded.alias("b"), list(keys))
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            *[F.col(f"{s}.{c}").alias(f"{c}_{s}") for c in carry for s in "ab"],
        )
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    bands: int = 8,
    k_shingle: int = 3,
    threshold: float = 0.7,
    seed: int = 42,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, est_jaccard >= threshold).

    Candidates from LSH buckets; the estimated Jaccard is the fraction of
    matching minhash components — verification never leaves the bucket join.
    ``max_bucket`` bounds the per-bucket join fan-out (see bucket_pairs).
    """
    from recipeselectors_spark.operators._parallel import ensure_parallelism

    # the signature pass is the CPU-heavy narrow stage of this operator
    # (num_perm transforms over every shingle array); a single-row-group
    # input would run it on one core — spread it first (guide §2.5)
    sigs = with_minhash(
        ensure_parallelism(df.select(id_col, text_col)), text_col, num_perm,
        k_shingle, seed
    ).select(id_col, "minhash")
    # materialize the signatures ONCE and cut the lineage: sigs feeds FOUR
    # downstream branches (both sides of the bucket self-join + both sides
    # of the est-verify join), and without the barrier Catalyst re-inlines
    # the num_perm×(shingle->hash->min) expression tree into every branch —
    # measured 265 s vs 8 s at sf0.1, almost all of it driver-side
    # optimizer/codegen time on the exploded plan. The signature table is
    # (id, num_perm longs) — tiny relative to the corpus at any scale.
    sigs = sigs.localCheckpoint()
    pairs = bucket_pairs(
        minhash_candidates(sigs, id_col, "minhash", bands, num_perm),
        id_col, max_bucket,
    ).distinct()
    sa = sigs.select(
        F.col(id_col).alias("id_a"), F.col("minhash").alias("mh_a")
    )
    sb = sigs.select(
        F.col(id_col).alias("id_b"), F.col("minhash").alias("mh_b")
    )
    est = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "est_jaccard",
            F.aggregate(
                F.zip_with("mh_a", "mh_b", lambda x, y: (x == y).cast("int")),
                F.lit(0),
                lambda acc, v: acc + v,
            )
            / F.size("mh_a"),
        )
        .where(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )
    return est


def ngram_jaccard_pairs(
    df: DataFrame,
    candidate_pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard for the given (id_a, id_b) candidate pairs —
    the verification stage after LSH."""
    sh = df.select(
        F.col(id_col), TX.shingles(text_col, k=k_shingle).alias("sh")
    )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        candidate_pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b"))
            ).alias("jaccard"),
        )
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
    bands: int = 4,
    seed: int = 42,
    max_bucket: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: random-hyperplane LSH buckets
    generate candidates (pure Catalyst sign-signatures, one explode+shuffle),
    exact cosine verifies within buckets — the vector analogue of
    MinHash-LSH, never materializing the n² pair space. ``dim`` (embedding
    width) is probed with one single-row job when not given — pass it to
    make the call fully lazy."""
    from recipeselectors_spark.operators import similarity as S
    from recipeselectors_spark.operators._parallel import ensure_parallelism

    # sign-signature dot products run in the scan stage — spread first
    renamed = ensure_parallelism(
        df.select(id_col, F.col(vec_col).alias("__v"))
    )
    # planes ship as one broadcast array column (codegen-safe at dim 768+),
    # all bands in a single pass — see similarity.with_band_buckets.
    # localCheckpoint: the banded frame feeds BOTH sides of the bucket
    # self-join; without the barrier the sign-signature expression tree is
    # re-inlined into each branch (same blowup as minhash_dedup_pairs)
    banded = S.with_band_buckets(
        renamed, "__v", [id_col, "__v"], dim, n_planes, bands, seed,
        stride=31,
    ).localCheckpoint()
    cand = bucket_pairs(banded, id_col, max_bucket, carry=("__v",))
    scored = S.with_cosine(
        cand.dropDuplicates(["id_a", "id_b"]), "__v_a", "__v_b"
    )
    return scored.where(F.col("cosine") >= threshold).select(
        "id_a", "id_b", "cosine"
    )


# Largest estimated benchmark shingle set decontaminate broadcasts (50M
# hashes ≈ 400 MB); above it the shuffle join. Tests monkeypatch it to
# force the shuffle join.
BROADCAST_MAX_SHINGLES = 50_000_000


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 3,
    min_overlap: int = 2,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing >=
    ``min_overlap`` word-``k_shingle``s with ANY benchmark text — the
    standard pre-training eval-leakage scrub (n-gram collision check).

    Plan: both sides shingle in Catalyst (xxhash64, zero Python); the
    benchmark shingle set is DISTINCT and exploded to (shingle) keys — at
    real scale benchmarks are ~1e6 docs vs 1e10+ training docs, so the
    exploded docs side joins against the (broadcastable) benchmark shingle
    set and aggregates matches per doc. Returns docs + ``n_contaminated``
    + ``contaminated`` flag; filter on it to drop.

    The join strategy is picked automatically: one cheap
    ``approx_count_distinct`` over the benchmark shingles (an
    order-of-magnitude call, not a size estimate) chooses broadcast up to
    ``BROADCAST_MAX_SHINGLES`` and the shuffle join above it.
    """
    bench_sh = (
        benchmark.select(
            F.explode(TX.shingles(text_col, k=k_shingle)).alias("__sh__")
        )
        .distinct()
    )
    # the probe runs on the pre-distinct explode (approx_count_distinct
    # needs no dedup shuffle) — one map-side-sketch job
    est = (
        benchmark.select(
            F.explode(TX.shingles(text_col, k=k_shingle)).alias("__sh__")
        )
        .agg(F.approx_count_distinct("__sh__").alias("d"))
        .collect()[0]["d"]
    )
    if est <= BROADCAST_MAX_SHINGLES:
        bench_sh = F.broadcast(bench_sh)
    # shingles() is array_distinct per doc, so (id, shingle) pairs are
    # already unique after the explode — no dedup shuffle needed. The
    # shingle hashing runs in the scan stage: spread a narrow scan first.
    from recipeselectors_spark.operators._parallel import ensure_parallelism

    doc_sh = ensure_parallelism(docs.select(id_col, text_col)).select(
        id_col, F.explode(TX.shingles(text_col, k=k_shingle)).alias("__sh__")
    )
    hits = (
        doc_sh.join(bench_sh, "__sh__")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_contaminated"))
    )
    return (
        docs.join(hits, id_col, "left")
        .withColumn("n_contaminated", F.coalesce("n_contaminated", F.lit(0)))
        .withColumn("contaminated", F.col("n_contaminated") >= min_overlap)
    )


def _star_components(
    edges: DataFrame, max_iter: int = 30
) -> DataFrame:
    """Large-star/small-star alternation (Kiveris et al. 2014, "Connected
    Components in MapReduce and Beyond") — the O(log n)-round scale path,
    correct for high-diameter (deep chain) components too.

    Edges are kept canonical as (u, v) with u > v. Per round:

    * large-star: for every node u, connect every LARGER neighbor to
      m = min(N(u) ∪ {u}) — long chains halve in one step;
    * small-star: for every node u, connect u and its smaller neighbors to
      the minimum among them — consolidates the stars.

    The fixed point is a forest of stars centered on each component's
    minimum id. Every round is two groupBy-min + join passes with a
    localCheckpoint barrier (bounded lineage) and ONE bounded change
    action (first differing edge). Returns (u, v) star edges: u > v,
    v = component min.
    """
    edges = (
        edges.where(F.col("id_a") != F.col("id_b"))
        .select(
            F.greatest("id_a", "id_b").alias("u"),
            F.least("id_a", "id_b").alias("v"),
        )
        .distinct()
        .localCheckpoint()
    )
    for _ in range(max_iter):
        both = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        # m(u) = min over neighborhood ∪ self
        m_large = both.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            both.join(m_large, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star over the canonical larger->smaller edges
        m_small = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(m_small, "u")
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("u").alias("a"), F.col("m").alias("b")),
                        F.struct(F.col("v").alias("a"), F.col("m").alias("b")),
                    )
                ).alias("e")
            )
            .select(F.col("e.a").alias("u"), F.col("e.b").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        if small.exceptAll(edges).unionByName(edges.exceptAll(small)).limit(
            1
        ).count() == 0:
            return small
        edges = small
    raise RuntimeError(
        f"large-star/small-star did not converge in {max_iter} rounds — "
        "raise max_iter (rounds grow with log(component size))"
    )


def _small_graph_components(
    edges: DataFrame, vertices: DataFrame, id_col: str
) -> DataFrame:
    """Driver union-find over a BOUNDED edge list (the caller checked the
    count) — replaces an O(rounds) sequence of join+checkpoint jobs with
    one bounded collect + one broadcast join. Vertices not on any edge
    stay their own cluster via the left join. Identical output to
    :func:`_star_components`: cluster = component-minimum id."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in edges.collect():
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN id so the root is already the component minimum
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    rows = [(x, find(x)) for x in parent]
    spark = vertices.sparkSession
    id_type = dict(vertices.dtypes)[id_col]
    lab = spark.createDataFrame(
        rows, f"`{id_col}` {id_type}, `__cc_label__` {id_type}"
    )
    return vertices.join(F.broadcast(lab), id_col, "left").select(
        F.col(id_col),
        F.coalesce("__cc_label__", F.col(id_col)).alias("cluster"),
    )


# Driver union-find cap of connected_components, in symmetrised
# (both-direction) edges; the pair list holds one direction, hence the
# halving there. Tests monkeypatch it to 0 to force the distributed path.
SMALL_GRAPH_EDGES = 2_000_000


def connected_components(
    pairs: DataFrame,
    vertices: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Connected components over near-dup pairs.

    ``pairs`` is an (id_a, id_b) edge list, ``vertices`` the universe (ids
    not in any pair become singleton components).

    Scale-adaptive dispatch: near-dup pair graphs are usually TINY
    relative to the corpus (dedup ran exact-first and capped buckets),
    while every distributed round pays 2-3 jobs no matter how small the
    data. The pairs are checkpointed once (count and collect do not
    recompute the pair join); up to ``SMALL_GRAPH_EDGES / 2`` edges a
    one-collect driver union-find answers, above it large-star/small-star
    (:func:`_star_components`, O(log n) rounds, localCheckpointed every
    round so lineage never grows with the iteration count).

    Returns (id_col, cluster) with cluster = min id of the component.
    """
    edges = pairs.select("id_a", "id_b").localCheckpoint()
    if edges.count() <= SMALL_GRAPH_EDGES // 2:
        return _small_graph_components(edges, vertices, id_col)
    # star edges (u, v=component min); vertices with no edge (incl. the
    # minima themselves) are their own cluster
    stars = _star_components(edges)
    return (
        vertices.select(F.col(id_col))
        .join(stars, vertices[id_col] == stars.u, "left")
        .select(F.col(id_col), F.coalesce("v", F.col(id_col)).alias("cluster"))
    )


def dedup_corpus_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_perm: int = 32,
    bands: int = 8,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Corpus dedup with TRUE duplicate clusters: exact-dedup first, MinHash
    near-dup pairs on the representatives, connected components over the
    pair graph, keep the minimum id of each component.

    Unlike :func:`dedup_corpus` (keep-first over raw pairs), transitive
    chains collapse correctly: if A~B and B~C but A!~C, keep-first keeps
    {A, C} while the cluster form keeps {A} — the semantics large corpus
    dedup pipelines actually want."""
    uniq = drop_exact_duplicates(df, text_col, id_col)
    pairs = minhash_dedup_pairs(
        uniq, id_col=id_col, text_col=text_col, num_perm=num_perm,
        bands=bands, threshold=threshold, max_bucket=max_bucket,
    )
    comp = connected_components(pairs, uniq.select(id_col), id_col)
    return (
        uniq.join(comp, id_col)
        .where(F.col(id_col) == F.col("cluster"))
        .drop("cluster")
    )


def with_fingerprint(
    df: DataFrame, text_col: str = "text", out: str = "fingerprint",
    window: int = 16,
) -> DataFrame:
    """Rolling-hash (winnowing-style min-of-window) document fingerprint as
    an Arrow pandas UDF — robust to small local edits, deterministic."""
    from pyspark.sql.functions import pandas_udf

    from recipeselectors_spark.operators._parallel import ensure_parallelism

    df = ensure_parallelism(df)  # the UDF runs in the scan stage

    @pandas_udf(LongType())
    def fp(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [TX.rolling_fingerprint(str(t) if t is not None else "", window)
             for t in texts],
            dtype="int64",
        )

    return df.withColumn(out, fp(F.col(text_col)))


def with_simhash(
    df: DataFrame, text_col: str = "text", out: str = "simhash"
) -> DataFrame:
    """64-bit SimHash signature via an Arrow pandas UDF (bit-vote kernel —
    genuinely cheaper in numpy than as 64 Catalyst aggregates)."""
    from pyspark.sql.functions import pandas_udf

    from recipeselectors_spark.operators._parallel import ensure_parallelism

    df = ensure_parallelism(df)  # the UDF runs in the scan stage

    @pandas_udf(LongType())
    def simhash_udf(texts: pd.Series) -> pd.Series:
        token_lists = [str(t).lower().split() if t else [] for t in texts]
        sigs = TX.simhash64(token_lists)
        return pd.Series(sigs.astype(np.int64))

    return df.withColumn(out, simhash_udf(F.col(text_col)))


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup candidates: equal 16-bit band of the 64-bit SimHash (any of
    4 bands) — standard Hamming-LSH banding, one explode + shuffle.
    ``max_bucket`` bounds the per-bucket join fan-out (see bucket_pairs)."""
    sig = with_simhash(df.select(id_col, text_col), text_col)
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftrightunsigned(F.col("simhash"), 16 * i)
                .bitwiseAND(F.lit(0xFFFF))
                .alias("bucket"),
            )
            for i in range(4)
        ]
    )
    # barrier before the self-join: the signature is a pandas-UDF column —
    # without it the UDF runs once per join branch (2x Arrow round trips)
    exploded = sig.select(id_col, F.explode(bands).alias("bb")).select(
        id_col, "bb.band", "bb.bucket"
    ).localCheckpoint()
    return bucket_pairs(exploded, id_col, max_bucket).distinct()


def repeated_span_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 32,
    window: int = 32,
    min_shared: int = 2,
    max_postings: int | None = 10_000,
) -> DataFrame:
    """Cross-document REPEATED-SPAN detection — the winnowing approximation
    of exact-substring dedup (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better"; fingerprint selection per Schleimer et
    al. 2003).

    Whole-document near-dup (MinHash) misses a boilerplate paragraph pasted
    into otherwise-different documents; this catches it: every shared
    substring of >= k + window - 1 bytes is guaranteed to yield a shared
    winnowed fingerprint, so documents sharing >= ``min_shared``
    fingerprints are repeated-span candidates.

    Scale shape — the posting-list pattern, same discipline as the LSH
    bucket join: per-doc fingerprints from a vectorized Arrow batch kernel
    (functions/text.winnow_fingerprints — numpy sliding-window min, no
    per-window Python), explode to (fingerprint, doc) postings, drop
    "stop-fingerprints" appearing in more than ``max_postings`` docs (a
    fingerprint shared by half the corpus is boilerplate the caller should
    extract, not a pair candidate — capping bounds the self-join exactly
    like LSH bucket caps), self-join within fingerprint, count shared
    prints per pair. Returns (id_a, id_b, n_shared), id_a < id_b.
    """
    from pyspark.sql.types import ArrayType

    from recipeselectors_spark.functions.text import winnow_fingerprints

    @F.pandas_udf(ArrayType(LongType()))
    def prints(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [
                winnow_fingerprints(
                    str(t) if t is not None else "", k=k, window=window
                ).tolist()
                for t in texts
            ]
        )

    from recipeselectors_spark.operators._parallel import ensure_parallelism

    postings = ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col), F.explode(prints(F.col(text_col))).alias("__fp__")
    )
    return (
        bucket_pairs(postings, id_col, max_postings, keys=("__fp__",))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
    bands: int = 4,
    seed: int = 42,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): documents
    whose EMBEDDINGS are near-identical (cosine >= threshold) collapse to
    one representative per semantic cluster — catching paraphrases and
    template rewrites that lexical MinHash misses.

    Composition of existing scale-safe parts: hyperplane-LSH candidate
    pairs with exact cosine verification (:func:`embedding_near_dup_pairs`
    — never the n² pair space), connected components over the pair graph
    (:func:`connected_components`), keep the min id per cluster. Returns
    the deduplicated frame (original columns)."""
    pairs = embedding_near_dup_pairs(
        df, id_col=id_col, vec_col=vec_col, threshold=threshold,
        n_planes=n_planes, bands=bands, seed=seed, max_bucket=max_bucket,
    )
    comp = connected_components(pairs, df.select(id_col), id_col=id_col)
    keep = comp.where(F.col(id_col) == F.col("cluster")).select(id_col)
    return df.join(keep, id_col, "left_semi")
