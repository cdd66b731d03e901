"""Similarity search over embedding columns (``array<float>``).

* ``cosine_topk`` — exact brute-force baseline: broadcast the query set,
  dot products via ``F.zip_with``/``F.aggregate`` (JVM-side, codegen).
* ``lsh_ann_topk`` — the scale path: random-hyperplane signatures bucket the
  corpus (signs of r·x, pure Catalyst, ``with_band_buckets``), candidates
  come only from matching buckets (multi-probe over b bands), exact
  re-scoring within buckets. At 10^12 vectors the bucket join replaces the
  O(n·q) cross product.
* ``ivf_topk`` — IVF-style alternative: k-means-lite centroids from a seeded
  driver sample, each vector assigned to its nearest centroid (one pass);
  queries probe ``nprobe`` nearest centroids only.

All three, and ``bm25.bm25_topk``, end in ``top_k_per_query``: the
per-query form of ``windows.top_k_per_group`` (score descending, id
ascending on ties).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from recipeselectors_spark.operators import windows as W

__all__ = [
    "top_k_per_query",
    "cosine_topk",
    "lsh_ann_topk",
    "ivf_topk",
    "ivf_sample",
    "ivf_centroids",
    "with_cosine",
]


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(c):
    return F.sqrt(
        F.aggregate(
            F.transform(c, lambda v: v.cast("double") * v.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def with_cosine(
    df: DataFrame, vec_col: str, query_col: str, out: str = "cosine"
) -> DataFrame:
    return df.withColumn(
        out,
        _dot(F.col(vec_col), F.col(query_col))
        / (_norm(F.col(vec_col)) * _norm(F.col(query_col))),
    )


def top_k_per_query(
    scored: DataFrame, k: int, query_id_col: str, id_col: str, score_col: str
) -> DataFrame:
    """The one per-query rank tail: ``(query_id_col, id_col, score_col,
    rank)``, rank 1..k per query by ``score_col`` descending, ties broken
    by ``id_col`` ascending so results are total-ordered and reproducible
    (``windows.top_k_per_group`` with the query as the group)."""
    top = W.top_k_per_group(
        scored, k, query_id_col, (F.col(score_col).desc(), F.col(id_col))
    )
    return top.select(query_id_col, id_col, score_col, "rank")


def cosine_topk(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "q_id",
) -> DataFrame:
    """Exact top-k per query: broadcast-crossjoin + per-query window top-k."""
    from recipeselectors_spark.operators._parallel import ensure_parallelism

    q = query.select(
        F.col(query_id_col), F.col(vec_col).alias("__q_vec__")
    )
    # the dot products run in the corpus scan stage — spread a narrow
    # (single-row-group) scan so they use every core (guide §2.5)
    scored = with_cosine(
        ensure_parallelism(corpus).crossJoin(F.broadcast(q)),
        vec_col, "__q_vec__",
    )
    return top_k_per_query(scored, k, query_id_col, id_col, "cosine")


def _hyperplanes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.normal(size=(n_planes, dim))


def with_band_buckets(
    df: DataFrame,
    vec_col: str,
    keep_cols: list[str],
    dim: int | None,
    n_planes: int,
    bands: int,
    seed: int,
    stride: int = 97,
) -> DataFrame:
    """Explode ``df`` into one row per (band, bucket) sign-signature.

    The hyperplanes ride in as ONE broadcast ``array<array<array<double>>>``
    column (cross-joined single-row frame — same pattern as the discretizer
    cuts broadcast, _scoring.py) instead of per-component ``F.lit``s: at
    dim 768 × 8 planes × 4 bands the literal form puts ~25k constants in the
    expression tree (codegen/constant-pool blowup); the broadcast form is one
    array constant regardless of dimensionality. All band signatures are
    computed in a single pass over the input (posexplode) — the round-1 form
    re-scanned the input once per band via union.

    Bucket values are bit-identical to the round-1 encoding: bit i of band
    b's signature = (plane_i · x > 0), weight 2^i.

    ``dim`` (the embedding width) is probed from ``df`` with one single-row
    job when None — pass it to keep the call fully lazy.
    """
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    spark = df.sparkSession
    planes = [
        [[float(v) for v in p] for p in _hyperplanes(dim, n_planes, seed + stride * b)]
        for b in range(bands)
    ]
    planes_df = spark.createDataFrame(
        [(planes,)], "__planes__ array<array<array<double>>>"
    )
    vec = F.col(vec_col)

    def band_sig(band_planes):
        bits = F.transform(
            band_planes,
            lambda p: F.when(_dot(vec, p) > 0, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long"),
        )
        zero = F.struct(
            F.lit(0).cast("long").alias("sig"), F.lit(1).cast("long").alias("w")
        )
        return F.aggregate(
            bits,
            zero,
            lambda acc, bit: F.struct(
                (acc["sig"] + bit * acc["w"]).alias("sig"),
                (acc["w"] * F.lit(2).cast("long")).alias("w"),
            ),
            lambda acc: acc["sig"],
        )

    sigs = F.transform(F.col("__planes__"), band_sig)
    return df.crossJoin(F.broadcast(planes_df)).select(
        *keep_cols, F.posexplode(sigs).alias("band", "bucket")
    )


def lsh_ann_topk(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "q_id",
    n_planes: int = 8,
    bands: int = 2,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidates share a random-hyperplane band bucket.

    ``bands`` independent sign-signatures are computed (each ``n_planes``
    bits); a corpus vector is a candidate for a query if ANY band matches —
    recall grows with bands, cost with bucket size.

    ``dim`` (the embedding width) is probed with one single-row job per
    side (corpus, query) when not given — pass it to make the call fully
    lazy.
    """
    from recipeselectors_spark.operators._parallel import ensure_parallelism

    def banded(df: DataFrame, idc: str) -> DataFrame:
        renamed = df.select(F.col(idc), F.col(vec_col).alias(f"__vec_{idc}__"))
        if idc == id_col:
            # corpus side: the bands×planes dot products run in the scan
            # stage — spread a narrow scan first (query side stays tiny)
            renamed = ensure_parallelism(renamed)
        return with_band_buckets(
            renamed,
            f"__vec_{idc}__",
            [idc, f"__vec_{idc}__"],
            dim,
            n_planes,
            bands,
            seed,
            stride=97,
        )

    cb = banded(corpus, id_col)
    qb = banded(query, query_id_col)

    cand = (
        cb.join(F.broadcast(qb), ["band", "bucket"])
        .select(
            query_id_col,
            id_col,
            F.col(f"__vec_{id_col}__").alias("__c__"),
            F.col(f"__vec_{query_id_col}__").alias("__q__"),
        )
        .dropDuplicates([query_id_col, id_col])
    )
    scored = with_cosine(cand, "__c__", "__q__")
    return top_k_per_query(scored, k, query_id_col, id_col, "cosine")


def ivf_sample(
    corpus: DataFrame, vec_col: str, id_col: str, sample_n: int
) -> np.ndarray:
    """Content-deterministic centroid-training sample: the ``sample_n``
    vectors whose ``md5(str(id))`` sorts first. Unlike ``limit(n)`` (which
    takes whatever partitions are scanned first — at 100 TB that is one
    file, and the centroids mirror that file's distribution), the md5
    ordering is a uniform pseudo-random draw over the WHOLE corpus that is
    independent of file layout, partitioning, and parallelism — and it is
    reproducible outside Spark (md5 of the decimal id string), so the
    centroids are a pure function of the data."""
    rows = (
        corpus.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(sample_n)
        .collect()
    )
    return np.array([r[1] for r in rows], dtype=float)


def ivf_centroids(
    sample: np.ndarray, n_centroids: int, seed: int, kmeans_iters: int = 5
) -> np.ndarray:
    """Centroids from the (deterministic) sample. ``kmeans_iters=0`` uses
    the first ``n_centroids`` sample vectors directly (random-vector IVF
    init — exactly reproducible in SQL, no floating-point averaging);
    ``kmeans_iters>0`` refines them with seeded Lloyd iterations
    (driver-side, tiny) for better cell balance at scale."""
    if kmeans_iters <= 0:
        return sample[: min(n_centroids, len(sample))].copy()
    rng = np.random.default_rng(seed)
    cent = sample[
        rng.choice(len(sample), size=min(n_centroids, len(sample)), replace=False)
    ]
    for _ in range(kmeans_iters):
        d = ((sample[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
        assign = d.argmin(1)
        for c in range(len(cent)):
            pts = sample[assign == c]
            if len(pts):
                cent[c] = pts.mean(0)
    return cent


def ivf_topk(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "q_id",
    seed: int = 42,
    sample_n: int = 2048,
    kmeans_iters: int = 5,
) -> DataFrame:
    """IVF-lite ANN: centroids = k-means(few iters) on a content-
    deterministic md5-ordered sample (see :func:`ivf_sample`); corpus
    partitioned by nearest centroid (one Catalyst pass); queries probe
    their ``nprobe`` nearest centroid cells only."""
    sample = ivf_sample(corpus, vec_col, id_col, sample_n)
    cent = ivf_centroids(sample, n_centroids, seed, kmeans_iters)

    # centroids ride in as ONE broadcast array column (not dim×k literals)
    spark = corpus.sparkSession
    cent_df = spark.createDataFrame(
        [([[float(v) for v in c] for c in cent],)],
        "__cent__ array<array<double>>",
    )

    def nearest_cells(vec, n: int):
        # rank by dot product with the centroids (2-arity transform lambda
        # binds (element, index) — the cell id)
        structs = F.transform(
            F.col("__cent__"),
            lambda c, i: F.struct(
                _dot(vec, c).alias("dot"), i.cast("int").alias("cell")
            ),
        )
        return F.slice(F.reverse(F.array_sort(structs)), 1, n)

    from recipeselectors_spark.operators._parallel import ensure_parallelism

    c_assigned = ensure_parallelism(corpus).crossJoin(
        F.broadcast(cent_df)
    ).withColumn(
        "cell", nearest_cells(F.col(vec_col), 1)[0]["cell"]
    ).drop("__cent__")
    q_assigned = query.crossJoin(F.broadcast(cent_df)).withColumn(
        "cells", nearest_cells(F.col(vec_col), nprobe)
    ).select(
        query_id_col,
        F.col(vec_col).alias("__q__"),
        F.explode(F.transform("cells", lambda s: s["cell"])).alias("cell"),
    )
    cand = c_assigned.join(F.broadcast(q_assigned), "cell").select(
        query_id_col, id_col, F.col(vec_col).alias("__c__"), "__q__"
    )
    scored = with_cosine(cand.dropDuplicates([query_id_col, id_col]), "__c__", "__q__")
    return top_k_per_query(scored, k, query_id_col, id_col, "cosine")
