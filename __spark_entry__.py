"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pipeline (transcript assembly → windowed
features) on sf0.001. ``queries()`` exposes one callable per implemented
operator from SURVEY.md §2 (each takes (spark, sf_dir) and returns a
DataFrame); ``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL over the
same parquet views. Column names and rounding are matched on both sides
(driver compare is order-insensitive value-hash over name-sorted columns).

Every query has a full DuckDB oracle (50/50 since round 4 — zero
rows-only): iterative fits are made RNG-free and replayed in recursive /
chained CTEs (IRLS logit, GBT boosting, RF-as-exact-stump, MDLP),
decision layers (Boruta) are recomputed from deterministic importance
streams. Deterministic pure functions of the data get GENERATED
oracles even when they need constants (LSH planes, 257-powers, MinHash
affine params), a bit-exact XXH64 re-implementation in SQL
(functions/xxh64_sql.py — minhash_pairs/dedup_corpus), or data-driven
derivations (IVF centroids recomputed in SQL from the md5-ordered sample).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable
from functools import partial

from pyspark.sql import DataFrame, SparkSession, functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

ROUND = 6


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: events → transcript shape → point-in-time feature matrix."""
    from recipeselectors_spark.operators import assembly
    from recipeselectors_spark.sources import transcripts as T

    tx = T.events_as_transcripts(spark, "/root/testdata/sf0.001")
    return assembly.assemble_features(tx.drop("value"))


# ---------------------------------------------------------------------------
# window / sessionize / rollup operators (operators/windows.py)
# ---------------------------------------------------------------------------

# the events' window: per user, ordered by (ts, event_id)
_BY_USER = {"partition": "user_id", "order": ("ts", "event_id")}


def q_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    from recipeselectors_spark.operators import windows as W

    ev = W.with_lag_lead(_events(spark, sf_dir), "value", **_BY_USER)
    return ev.select(
        "user_id",
        "event_id",
        F.col("value_lag1").alias("v_lag1"),
        F.col("value_lead1").alias("v_lead1"),
    )


def _purchase_fill(spark: SparkSession, sf_dir: str, fill, out: str) -> DataFrame:
    """``fill`` (``windows.with_ffill`` or ``with_bfill``) of each user's
    purchase values, NULL on every other event type."""
    pv = _events(spark, sf_dir).withColumn(
        "pv", F.when(F.col("event_type") == "purchase", F.col("value"))
    )
    return fill(pv, "pv", out, **_BY_USER).select("user_id", "event_id", out)


def q_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from recipeselectors_spark.operators import windows as W

    return _purchase_fill(spark, sf_dir, W.with_ffill, "purchase_ffill")


def q_bfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward-fill: next purchase value from the current row onward."""
    from recipeselectors_spark.operators import windows as W

    return _purchase_fill(spark, sf_dir, W.with_bfill, "purchase_bfill")


def q_rolling_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 10-minute time-range rolling aggregate (rangeBetween)."""
    from recipeselectors_spark.operators import windows as W

    aggs = {"n_10min": F.count("*"), "sum_10min": F.sum("value")}
    ev = W.with_rolling_time(_events(spark, sf_dir), 600, aggs, _BY_USER["partition"])
    return ev.select(
        "user_id", "event_id", "n_10min", F.round("sum_10min", ROUND).alias("sum_10min")
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from recipeselectors_spark.operators import windows as W

    sess = W.with_session_id(_events(spark, sf_dir), gap_seconds=3600, **_BY_USER)
    return sess.groupBy(
        "user_id", F.col("session_id").cast("bigint").alias("session_id")
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), ROUND).alias("sum_value"),
    )


def q_rolling_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from recipeselectors_spark.operators import windows as W

    ev = W.with_rolling_rows(
        _events(spark, sf_dir), 5, {"roll_mean5": F.avg("value")}, **_BY_USER
    )
    return ev.select(
        "user_id", "event_id", F.round("roll_mean5", ROUND).alias("roll_mean5")
    )


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
        F.round(F.avg(F.length("props")), ROUND).alias("avg_props_len"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("n_purchases"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


def q_topk_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from recipeselectors_spark.operators import windows as W

    by_value = (F.col("value").desc(), F.col("event_id"))
    top = W.top_k_per_group(_events(spark, sf_dir), 3, _BY_USER["partition"], by_value)
    return top.select(
        "user_id", "event_id", "value", F.col("rank").cast("bigint").alias("rn")
    )


def q_dedup_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable-ordering dedup of duplicate (user, minute-bucket) rows."""
    from recipeselectors_spark.operators import windows as W

    ev = _events(spark, sf_dir).withColumn(
        "minute", F.date_trunc("minute", F.col("ts"))
    )
    first = W.top_k_per_group(ev, 1, ["user_id", "minute"], _BY_USER["order"])
    return first.select("user_id", "minute", "event_id")


# ---------------------------------------------------------------------------
# as-of join (operators/asof.py)
# ---------------------------------------------------------------------------

def _asof_inputs(spark: SparkSession, sf_dir: str):
    ev = _events(spark, sf_dir)
    # dedup same-(user, ts) feature rows deterministically (max value)
    feats = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
        .withColumnRenamed("user_id", "conv_id")
    )
    spine = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("purchase_id"))
        .withColumnRenamed("user_id", "conv_id")
    )
    return spine, feats


def q_asof_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-window as-of join, plain AND tolerance-gated in one output:
    ``click_value`` is the unbounded backward carry, ``click_value_tol``
    nulls any carried feature older than 10 minutes (merge_asof tolerance
    semantics, measured on the carried row's own ts). Both code paths of
    asof_join_union run; the oracle computes both columns off one DuckDB
    ASOF join."""
    from recipeselectors_spark.operators import asof

    spine, feats = _asof_inputs(spark, sf_dir)
    # ONE union + ONE window exchange produces both the plain carry and the
    # tolerance-gated carry
    out = asof.asof_join_union(
        spine, feats, ["click_value"], on="conv_id", tolerance_s=600,
        ungated_suffix="__plain",
    )
    return out.select(
        F.col("conv_id").alias("user_id"), "ts", "purchase_id",
        F.col("click_value__plain").alias("click_value"),
        F.col("click_value").alias("click_value_tol"),
    )


def q_asof_cogroup(
    spark: SparkSession, sf_dir: str, direction: str = "backward"
) -> DataFrame:
    """As-of join through the cogroup sorted-merge strategy in one
    ``direction``: ``backward`` (the last feature row at-or-before each spine
    ts), ``forward`` (the next one at-or-after) or ``nearest`` (min absolute
    ts distance, ties prefer the backward row — pd.merge_asof semantics)."""
    from recipeselectors_spark.operators import asof

    spine, feats = _asof_inputs(spark, sf_dir)
    out = asof.asof_join_cogroup(
        spine, feats, ["click_value"], on="conv_id", num_shards=16,
        direction=direction,
    )
    return out.select(
        F.col("conv_id").alias("user_id"), "ts", "purchase_id", "click_value"
    )


# the DuckDB twin of _asof_inputs
_ASOF_INPUTS_SQL = """
WITH feats AS (
  SELECT user_id, ts, max(value) AS click_value
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
),
spine AS (
  SELECT user_id, ts, max(event_id) AS purchase_id
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
)"""


def _asof_oracle(direction: str, tolerance_s: int | None = None) -> str:
    """DuckDB replay of the click-onto-purchase as-of joins. ``tolerance_s``
    adds the gated ``click_value_tol`` column of a backward join. DuckDB has
    no nearest ASOF, so nearest joins both directions and picks the closer,
    tie -> backward."""

    def asof_join(op: str, cols: str) -> str:
        return (
            f"SELECT s.user_id, s.ts, s.purchase_id, {cols}\n"
            "FROM spine s ASOF LEFT JOIN feats f\n"
            f"  ON s.user_id = f.user_id AND s.ts {op} f.ts"
        )

    if direction == "nearest":
        return f"""{_ASOF_INPUTS_SQL},
b AS ({asof_join(">=", "f.ts AS bts, f.click_value AS bval")}),
fw AS ({asof_join("<=", "f.ts AS fts, f.click_value AS fval")})
SELECT b.user_id, b.ts, b.purchase_id,
       CASE WHEN b.bts IS NULL THEN fw.fval
            WHEN fw.fts IS NULL THEN b.bval
            WHEN (b.ts - b.bts) <= (fw.fts - fw.ts) THEN b.bval
            ELSE fw.fval END AS click_value
FROM b JOIN fw ON b.user_id = fw.user_id AND b.ts = fw.ts
"""
    cols = "f.click_value"
    if tolerance_s is not None:
        cols += (
            f",\n       CASE WHEN epoch(s.ts) - epoch(f.ts) <= {tolerance_s}"
            " THEN f.click_value END AS click_value_tol"
        )
    op = ">=" if direction == "backward" else "<="
    return f"{_ASOF_INPUTS_SQL}\n{asof_join(op, cols)}\n"


# ---------------------------------------------------------------------------
# selection-step scoring (distributed operators → tiny score frames)
# ---------------------------------------------------------------------------

def _score_frame(
    spark: SparkSession,
    scores: dict[str, float],
    col: str,
    rnd: Callable[[float], float] = lambda v: round(v, ROUND),
) -> DataFrame:
    """One ``(feature, <col>)`` row per score, sorted by feature, each value
    passed through ``rnd``."""
    rows = [(k, rnd(v)) for k, v in sorted(scores.items())]
    return spark.createDataFrame(rows, f"feature string, {col} double")


def _feature_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return ev.select(
        F.col("value").cast("double").alias("value"),
        F.length("props").cast("double").alias("props_len"),
        F.when(F.col("event_type") == "purchase", "pos").otherwise("neg").alias("y"),
    )


def q_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-sum ROC AUC per feature via the RocStep Catalyst plan."""
    from recipeselectors_spark.operators import RocStep

    df = _feature_frame(spark, sf_dir)
    fitted = RocStep("y", terms=["value", "props_len"], top_p=1).prep(df)
    return _score_frame(spark, fitted.scores, "auc")


_ROC_ORACLE = f"""
WITH feat AS (
  SELECT 'value' AS feature, CAST(value AS double) AS x,
         CASE WHEN event_type='purchase' THEN 1 ELSE 0 END AS pos
  FROM events
  UNION ALL
  SELECT 'props_len', CAST(length(props) AS double),
         CASE WHEN event_type='purchase' THEN 1 ELSE 0 END
  FROM events
),
hist AS (
  SELECT feature, x, SUM(pos)::double w_pos, SUM(1-pos)::double w_neg
  FROM feat GROUP BY feature, x
),
cum AS (
  SELECT feature, w_pos, w_neg,
         COALESCE(SUM(w_neg) OVER (PARTITION BY feature ORDER BY x
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_neg
  FROM hist
),
auc AS (
  SELECT feature,
         SUM(w_pos*(cum_neg + w_neg/2)) / (SUM(w_pos)*SUM(w_neg)) AS a
  FROM cum GROUP BY feature
)
SELECT feature, ROUND(GREATEST(a, 1-a), {ROUND}) AS auc FROM auc ORDER BY feature
"""


def q_infgain_equalfreq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency-binned information gain via InfGainStep (cut learning
    through applyInPandas + distributed binned counts)."""
    from recipeselectors_spark.operators import InfGainStep

    df = _feature_frame(spark, sf_dir).select("value", "y")
    fitted = InfGainStep(
        "y", terms=["value"], threshold=0.5, equal=True, bins=4
    ).prep(df)
    return _score_frame(spark, fitted.scores, "infogain")


def _entropy_sql(counts: str, by: str) -> str:
    """Entropy (nats) of the ``by`` margin of ``counts``, a relation of cell
    counts ``n``."""
    return (
        f"(SELECT -SUM(p*LN(p)) FROM (SELECT SUM(n)/(SELECT SUM(n) FROM {counts})"
        f" AS p FROM {counts} GROUP BY {by}))"
    )


def _mutual_info_sql(counts: str, x: str, y: str) -> str:
    """I(x; y) = H(x) + H(y) - H(x, y) over the cell counts ``counts``."""
    return (
        f"({_entropy_sql(counts, x)} + {_entropy_sql(counts, y)}"
        f" - {_entropy_sql(counts, f'{x}, {y}')})"
    )


def _equal_freq_bin_sql(x: str, source: str, bins: int) -> str:
    """Bin code of ``x`` among the ``bins``-quantile cuts of ``x`` over
    ``source``, as ``_scoring.learn_numeric_cuts`` bins: a quantile counts
    only if strictly above the previous one (quantiles are monotone, so
    that is the distinct set), and the code is the number of cuts <= x."""
    qs = [i / bins for i in range(1, bins)]
    cuts = f"(SELECT list_distinct(quantile_cont({x}, {qs})) FROM {source})"
    return f"length(list_filter({cuts}, c -> c <= {x}))"


_INFGAIN_ORACLE = f"""
WITH feat AS (
  SELECT CAST(value AS double) AS x,
         CASE WHEN event_type='purchase' THEN 'pos' ELSE 'neg' END AS y
  FROM events
),
binned AS (SELECT {_equal_freq_bin_sql("x", "feat", 4)} AS bin, y FROM feat),
joint AS (SELECT bin, y, COUNT(*)::double AS n FROM binned GROUP BY bin, y)
SELECT 'value' AS feature,
       ROUND({_mutual_info_sql("joint", "bin", "y")}, {ROUND}) AS infogain
"""


_MRMR_ORACLE = f"""
-- greedy mRMR over (value, props_len), bins=4 equal-freq:
-- score(first) = I(X;Y); score(second) = I(X;Y) - I(X; first).
WITH feat AS (
  SELECT CAST(value AS double) AS v, CAST(length(props) AS double) AS p,
         CASE WHEN event_type='purchase' THEN 'pos' ELSE 'neg' END AS y
  FROM events
),
binned AS (
  SELECT {_equal_freq_bin_sql("v", "feat", 4)} AS bv,
         {_equal_freq_bin_sql("p", "feat", 4)} AS bp, y
  FROM feat
),
joint AS (
  SELECT bv, bp, y, COUNT(*)::double AS n FROM binned GROUP BY bv, bp, y
),
mi AS (
  SELECT {_mutual_info_sql("joint", "bv", "y")} AS miv,
         {_mutual_info_sql("joint", "bp", "y")} AS mip,
         {_mutual_info_sql("joint", "bv", "bp")} AS mivp
)
SELECT 'props_len' AS feature,
       ROUND(CASE WHEN miv >= mip THEN mip - mivp ELSE mip END, {ROUND}) AS mrmr
FROM mi
UNION ALL
SELECT 'value',
       ROUND(CASE WHEN miv >= mip THEN miv ELSE miv - mivp END, {ROUND})
FROM mi
ORDER BY feature
"""


def q_chi2_stat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square statistic per categorical feature from the melted
    contingency aggregation (no continuity correction, to stay
    SQL-expressible; the p-value transform is unit-tested separately)."""
    import numpy as np

    from recipeselectors_spark.functions import stats
    from recipeselectors_spark.operators import _scoring

    ev = _events(spark, sf_dir).select(
        "event_type",
        F.concat(
            F.lit("b"), F.floor(F.col("value") % 4).cast("int").cast("string")
        ).alias("value_bucket"),
        F.when(F.col("value") > 5.0, "hi").otherwise("lo").alias("y"),
    )
    pdf = _scoring.nominal_contingency(ev, ["event_type", "value_bucket"], "y")
    tables = _scoring.joint_tables(pdf)
    chi2 = {
        feat: float(stats.chi2_stat(t, correction=False)[0])
        for feat, t in tables.items()
    }
    return _score_frame(spark, chi2, "chi2")


_CHI2_ORACLE = f"""
WITH base AS (
  SELECT event_type,
         'b' || CAST(CAST(floor(value % 4) AS int) AS varchar) AS value_bucket,
         CASE WHEN value > 5.0 THEN 'hi' ELSE 'lo' END AS y
  FROM events
),
melted AS (
  SELECT 'event_type' AS feature, event_type AS x, y FROM base
  UNION ALL
  SELECT 'value_bucket', value_bucket, y FROM base
),
joint AS (SELECT feature, x, y, COUNT(*)::double n FROM melted GROUP BY 1,2,3),
margins AS (
  SELECT j.feature, j.x, j.y, j.n,
         SUM(j.n) OVER (PARTITION BY j.feature, j.x) AS row_n,
         SUM(j.n) OVER (PARTITION BY j.feature, j.y) AS col_n,
         SUM(j.n) OVER (PARTITION BY j.feature) AS tot_n
  FROM joint j
),
cells AS (
  SELECT feature, x, y, n, row_n*col_n/tot_n AS e FROM margins
),
-- include zero cells: full cross of observed rows × cols per feature
full_cells AS (
  SELECT rx.feature, rx.x, cy.y,
         COALESCE(c.n, 0) AS n, rx.row_n*cy.col_n/rx.tot_n AS e
  FROM (SELECT DISTINCT feature, x, row_n, tot_n FROM margins) rx
  JOIN (SELECT DISTINCT feature, y, col_n FROM margins) cy USING (feature)
  LEFT JOIN cells c ON c.feature=rx.feature AND c.x=rx.x AND c.y=cy.y
)
SELECT feature, ROUND(SUM((n-e)*(n-e)/e), {ROUND}) AS chi2
FROM full_cells GROUP BY feature ORDER BY feature
"""


# ---------------------------------------------------------------------------
# text / dedup / similarity (operators for training-data pipelines)
# ---------------------------------------------------------------------------

# the lowercased whitespace tokens of ``text`` (functions/text.py tokens over
# lower(text)), and the same without empty tokens
_WORDS_SQL = "regexp_split_to_array(trim(lower(text)), '\\s+')"
_TOKENS_SQL = f"list_filter({_WORDS_SQL}, x -> x != '')"


def _ngrams_sql(toks: str, n: int) -> str:
    """The space-joined word ``n``-grams of the token list ``toks``."""
    return (
        f"[array_to_string({toks}[i:i+{n - 1}], ' ')"
        f" FOR i IN generate_series(1, length({toks}) - {n - 1})]"
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup, BOTH strategies in one output and cross-checked against
    each other: the hash-groupBy aggregate (dedup.dedup_exact -> keep_doc_id
    = min doc_id, n_copies) joined with the window keep-first operator
    (dedup.drop_exact_duplicates -> text_hash, kept_doc_id) on the kept id.
    Each text keeps one id under each strategy, so any disagreement between
    the two plans drops that text's row: a row-count mismatch. (A NULL-text
    group would survive this join where the oracle's hash join drops it;
    the driver's documents hold no NULL text.)"""
    from recipeselectors_spark.operators import dedup as D

    docs = _documents(spark, sf_dir)
    agg = D.dedup_exact(docs).withColumnRenamed("doc_id", "keep_doc_id")
    kept = D.drop_exact_duplicates(docs).select(
        F.md5("text").alias("text_hash"), F.col("doc_id").alias("kept_doc_id")
    )
    joined = agg.join(kept, F.col("keep_doc_id") == F.col("kept_doc_id"))
    return joined.select("text_hash", "keep_doc_id", "n_copies", "kept_doc_id")


_CHUNK_TOKENS = 16
_CHUNK_OVERLAP = 4


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count, char count, and the regex BPE-ish
    pre-tokenizer count (functions/text.py) in one pass — all JVM-side.
    Merged r5 (50-slot contract): document CHUNKING content-pinned per doc
    — ``n_chunks`` and an md5 over the '|'-joined chunk texts
    (operators/sampling.py:chunk_array at max_tokens=16, overlap=4 — small
    budget so the ~50-token docs genuinely split and overlap carry is
    exercised); the oracle recomputes the chunk lists in SQL."""
    from recipeselectors_spark.functions import text as TX
    from recipeselectors_spark.operators.sampling import chunk_array

    chunks = chunk_array("text", _CHUNK_TOKENS, _CHUNK_OVERLAP)
    docs = _documents(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars_computed"),
        TX.bpe_ish_token_count("text").cast("bigint").alias("n_bpe_tokens"),
        F.size(chunks).cast("bigint").alias("n_chunks"),
        F.md5(F.concat_ws("|", chunks)).alias("chunks_md5"),
    )


_BM25_QUERY = "spark window merge"


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc text-quality scalars PLUS the BM25 relevance score against a
    fixed keyword query (the 50-slot contract merges related per-doc
    checks). The BM25 column drives operators/bm25.py end-to-end — inverted
    index, document frequencies, N/avgdl corpus stats, Lucene-form idf —
    and the oracle recomputes all of it from the raw table (no baked
    constants; docs with no query-term overlap score 0)."""
    from recipeselectors_spark.operators import bm25 as B25

    docs = _documents(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    stop = F.size(F.filter(toks, lambda t: (t == "the") | (t == "a")))
    qdf = spark.createDataFrame([("q", _BM25_QUERY)], ["q_id", "query"])
    scores = B25.bm25_scores(docs, qdf).select(
        "doc_id", F.col("bm25").alias("__bm25__")
    )
    return (
        docs.join(scores, "doc_id", "left")
        .select(
            "doc_id",
            F.round(stop / F.size(toks), ROUND).alias("stopword_ratio"),
            F.round(
                (F.length("text") - F.size(toks) + 1) / F.size(toks), ROUND
            ).alias("avg_word_len"),
            F.round(F.coalesce("__bm25__", F.lit(0.0)), ROUND).alias(
                "bm25_fixed"
            ),
        )
    )


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 against query vec_id=0 (similarity-search
    baseline; ``similarity.with_cosine``, JVM-side). One global
    ``orderBy().limit(5)``: ``cosine_topk``'s per-query window would send
    the whole corpus to one task."""
    from recipeselectors_spark.operators import similarity as S
    from recipeselectors_spark.operators._parallel import ensure_parallelism

    emb = _embeddings(spark, sf_dir)
    q = emb.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb")
    )
    # dot products evaluate in the corpus scan stage — spread it first
    joined = ensure_parallelism(
        emb.where(F.col("vec_id") != 0)
    ).crossJoin(F.broadcast(q))
    scored = S.with_cosine(joined, "embedding", "q_emb").select(
        "vec_id", F.round("cosine", 5).alias("cosine")
    )
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id")).limit(5)


_COSINE_ORACLE = """
WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id,
         ROUND(list_dot_product(e.embedding::DOUBLE[], q.q_emb::DOUBLE[]) /
          (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
           sqrt(list_dot_product(q.q_emb::DOUBLE[], q.q_emb::DOUBLE[]))), 5)
           AS cosine
  FROM embeddings e, q WHERE e.vec_id != 0
)
SELECT vec_id, cosine FROM scored ORDER BY cosine DESC, vec_id LIMIT 5
"""


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spine filtering via leftsemi/leftanti (SURVEY.md §2.4 Joins): events
    of users who purchased, and users who never clicked."""
    ev = _events(spark, sf_dir)
    buyers = ev.where(F.col("event_type") == "purchase").select("user_id")
    semi = ev.join(buyers, "user_id", "leftsemi").groupBy("user_id").agg(
        F.count("*").alias("n_events")
    )
    clickers = ev.where(F.col("event_type") == "click").select("user_id")
    anti = ev.join(clickers, "user_id", "leftanti").select("user_id").distinct()
    return semi.join(anti.withColumn("never_clicked", F.lit(1)), "user_id", "left").select(
        "user_id",
        "n_events",
        F.coalesce("never_clicked", F.lit(0)).cast("bigint").alias("never_clicked"),
    )


_SEMI_ORACLE = """
WITH semi_side AS (
  SELECT user_id, COUNT(*) AS n_events
  FROM events e
  WHERE EXISTS (SELECT 1 FROM events p
                WHERE p.user_id = e.user_id AND p.event_type = 'purchase')
  GROUP BY user_id
),
anti_side AS (
  SELECT DISTINCT user_id FROM events e
  WHERE NOT EXISTS (SELECT 1 FROM events c
                    WHERE c.user_id = e.user_id AND c.event_type = 'click')
)
SELECT s.user_id, s.n_events,
       CAST(CASE WHEN a.user_id IS NULL THEN 0 ELSE 1 END AS bigint) AS never_clicked
FROM semi_side s LEFT JOIN anti_side a USING (user_id)
"""


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tool-payload JSON parsing (F.from_json over props — SURVEY.md §2.4
    scalar functions) + per-user aggregate of the extracted field."""
    ev = _events(spark, sf_dir)
    parsed = ev.withColumn(
        "k", F.from_json(F.col("props"), "k int")["k"]
    )
    return parsed.groupBy("user_id").agg(
        F.sum("k").cast("bigint").alias("sum_k"),
        F.count(F.col("k")).alias("n_parsed"),
    )


_JSON_ORACLE = """
SELECT user_id,
       CAST(SUM(CAST(json_extract(props, '$.k') AS int)) AS bigint) AS sum_k,
       COUNT(json_extract(props, '$.k')) AS n_parsed
FROM events GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# corpus-pipeline compositions (each with a full generated SQL oracle —
# XXH64 replay / window SQL; kernel-level oracles also live in tests/)
# ---------------------------------------------------------------------------

def q_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full corpus dedup composition (exact-first, then MinHash near-dup on
    representatives, keep-first). Oracle-checked end-to-end: the DuckDB SQL
    recomputes the md5 keep-first window AND the whole MinHash-LSH pipeline
    via the bit-exact XXH64 port (functions/xxh64_sql.py)."""
    from recipeselectors_spark.operators import dedup as D

    out = D.dedup_corpus(_documents(spark, sf_dir), threshold=0.8)
    return out.select("doc_id")


LM_TOP_V = 20


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-quality signals in one pure-Catalyst pass: the composite
    quality heuristic (length/word-length/punctuation/stopword bands),
    Gopher-style repetition ratios (1 - distinct/total for unigrams and
    word-2-grams), the stopword-vote language-ID, AND (merged r5 — the
    50-slot contract) the full Gopher/C4 quality FILTER decision
    (operators/quality_filter.py at default QualityRules): ``kept`` plus
    the ordered per-rule ``drop_reasons`` as a comma-joined string. The
    oracle recomputes every rule threshold from raw signals in SQL.
    ALSO merged r5: ``lm_score`` drives the REAL unigram-LM quality
    operator (operators/lm_quality.py — KenLM-lite, self-scored at
    top_v=LM_TOP_V=20 so the vocabulary cut and the OOV floor both fire
    on this 31-token corpus); the oracle refits the smoothed model and
    the per-doc mean log2 probability entirely in SQL."""
    from recipeselectors_spark.functions import text as TX
    from recipeselectors_spark.operators import lm_quality
    from recipeselectors_spark.operators.quality_filter import quality_flags

    docs = _documents(spark, sf_dir)
    uni, bi = TX.repetition_ratios("text")
    flagged = quality_flags(docs)
    lm = lm_quality.lm_quality_scores(docs, top_v=LM_TOP_V, alpha=1.0)
    return flagged.select(
        "doc_id",
        F.round(TX.quality_score("text"), ROUND).alias("quality"),
        F.round(uni, ROUND).alias("rep_unigram"),
        F.round(bi, ROUND).alias("rep_bigram"),
        TX.langid_expr("text").alias("lang_pred"),
        "kept",
        F.concat_ws(",", "drop_reasons").alias("drop_reasons_str"),
    ).join(
        lm.select("doc_id", F.round("lm_score", ROUND).alias("lm_score")),
        "doc_id",
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-shingle Jaccard over a deterministic candidate set (all
    pairs among doc_id<25). The oracle computes Jaccard on the string
    shingles directly — identical to the engine's distinct-hash sets absent
    a 64-bit collision."""
    from recipeselectors_spark.operators import dedup as D

    docs = _documents(spark, sf_dir).where(F.col("doc_id") < 25)
    ids = docs.select("doc_id")
    pairs = (
        ids.select(F.col("doc_id").alias("id_a"))
        .crossJoin(ids.select(F.col("doc_id").alias("id_b")))
        .where(F.col("id_a") < F.col("id_b"))
    )
    out = D.ngram_jaccard_pairs(docs, pairs)
    return out.select(
        "id_a", "id_b", F.round("jaccard", ROUND).alias("jaccard")
    )


def q_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-lite ANN top-k. The centroid-training sample is content-
    deterministic (md5-ordered — similarity.ivf_sample), and kmeans_iters=0
    takes the first n_centroids sample vectors as centroids (random-vector
    IVF init, no floating-point averaging) — so the ENTIRE pipeline is a
    pure function of the data and the DuckDB oracle recomputes the sample,
    the centroids, the cell assignment, and the probe scan from the table
    itself at any scale factor."""
    from recipeselectors_spark.operators import similarity as S

    emb = _embeddings(spark, sf_dir)
    corpus = emb.where(F.col("vec_id") >= 10)
    query = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    out = S.ivf_topk(corpus, query, k=5, n_centroids=8, nprobe=4, kmeans_iters=0)
    return out.withColumn("cosine", F.round("cosine", 5)).withColumn(
        "rank", F.col("rank").cast("bigint")
    )


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real multimodal decode: synthesized 24-bit BMP / PCM WAV payloads
    through the mapInPandas plumbing (pure-numpy codecs; video frame decode
    stays stubbed -> decode_ok=false). The synthesis is deterministic and
    sf-independent, so the oracle bakes the expected rows as VALUES computed
    by the SAME numpy pipeline driver-side (honesty note: DuckDB cannot
    decode media, so this verifies the distributed Arrow/mapInPandas
    plumbing — batching, ordering, rounding — against a single-process
    recomputation, not an independent decoder)."""
    from recipeselectors_spark.operators import multimodal

    pdf = multimodal.synthesize_real_media_pandas(n=60)
    media = spark.createDataFrame(pdf, schema=multimodal.MEDIA_SCHEMA)
    out = multimodal.extract_media_features(media)
    return out.select(
        "media_id",
        "kind",
        "n_bytes",
        "decode_ok",
        F.round(F.element_at("feat", 1), ROUND).alias("f1"),
        F.round(F.element_at("feat", 5), ROUND).alias("f5"),
    )


def q_assemble_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full point-in-time feature matrix (window lag/ffill/sessionize/rolling
    on ONE conv_id exchange) — every feature is SQL-expressible, so the whole
    flagship assembly is oracle-checked end-to-end."""
    from recipeselectors_spark.operators import assembly
    from recipeselectors_spark.sources import transcripts as T

    tx = T.events_as_transcripts(spark, sf_dir).drop("value")
    fm = assembly.assemble_features(tx)
    return fm.select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        "ts",
        *[F.round(c, ROUND).alias(c) for c in assembly.FEATURE_COLS],
        "role",
    )


def _mdl_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frame of both MDL queries: value, props_len and y."""
    ev = _events(spark, sf_dir)
    return ev.select(
        F.col("value").cast("double").alias("value"),
        F.length("props").cast("double").alias("props_len"),
        F.when(F.floor(F.col("value") * 3) % 2 == 0, "pos")
        .otherwise("neg")
        .alias("y"),
    )


def q_infgain_mdl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MDL-discretized information gain (FSelectorRcpp default semantics,
    equal=FALSE -> Fayyad-Irani MDLP). The outcome is a deterministic
    function of `value` (floor(3x) parity) so the MDLP recursion actually
    accepts cuts (~32 at sf0.01) — the oracle replays the ENTIRE recursive
    partitioning in a DuckDB recursive CTE (argmax boundary per interval,
    log2(n-1)+delta acceptance, midpoint cuts) and then the binned-entropy
    info gain."""
    from recipeselectors_spark.operators import InfGainStep

    df = _mdl_frame(spark, sf_dir)
    fitted = InfGainStep("y", terms=["value", "props_len"], top_p=1).prep(df)
    return _score_frame(spark, fitted.scores, "infogain")


def q_infgain_mdl_gated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB scale path of MDL discretization, driver-checked:
    ``mdl_gate_distinct=0`` forces EVERY feature through the size-gated
    pre-bucketing (percentile_approx boundaries + Bucketizer binary search +
    bucket-min representatives, operators/_scoring.py:_prebucket_oversized)
    so no kernel task ever holds a data-sized histogram. With the bin budget
    above the distinct-value count every value keeps its own bucket and the
    result is bit-identical to ``infgain_mdl`` — so this query shares that
    query's full recursive-CTE MDLP oracle. The budget is derived FROM the
    data (countDistinct + 1) rather than hard-coded: a fixed constant holds
    only below some scale factor (16384 already breaks at sf0.1, where
    `value` has 17,792 distinct values) and would silently flip this query
    red on a larger driver SF."""
    from recipeselectors_spark.operators import InfGainStep

    df = _mdl_frame(spark, sf_dir)
    bins = (
        df.select(
            F.greatest(
                F.countDistinct("value"), F.countDistinct("props_len")
            ).alias("d")
        ).first()["d"]
        + 1
    )
    fitted = InfGainStep(
        "y", terms=["value", "props_len"], top_p=1,
        mdl_gate_distinct=0, mdl_prebucket_bins=bins,
    ).prep(df)
    return _score_frame(spark, fitted.scores, "infogain")


def q_mrmr_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy mRMR over two equal-freq-binned features: score(first) =
    I(X;Y), score(second) = I(X;Y) − I(X; first). bins=4 keeps the DuckDB
    oracle's quantile/entropy SQL tractable."""
    from recipeselectors_spark.operators import MrmrStep

    df = _feature_frame(spark, sf_dir)
    fitted = MrmrStep("y", terms=["value", "props_len"], top_p=1, bins=4).prep(df)
    return _score_frame(spark, fitted.scores, "mrmr")


def q_carscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAR scores on lineitem, BOTH modes in one output: ``carscore`` is the
    full R_XX^{-1/2}·r_xy with lam='auto' (Schäfer-Strimmer; the oracle
    replays moments, lambda, and the Newton-Schulz R^{-1/2} in a recursive
    CTE) and ``carscore_diag`` is diagonal=TRUE
    (step_select_carscore.R:151) — marginal |corr(x, y)|, exactly DuckDB
    corr()."""
    from recipeselectors_spark.operators import CarScoreStep

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_quantity", "l_discount", "l_tax", "l_extendedprice"
    )
    full = CarScoreStep(
        "l_extendedprice", terms=["l_quantity", "l_discount", "l_tax"], top_p=2
    ).prep(li)
    diag = CarScoreStep(
        "l_extendedprice",
        terms=["l_quantity", "l_discount", "l_tax"],
        top_p=2,
        diagonal=True,
    ).prep(li)
    rows = [
        (k, round(full.scores[k], ROUND), round(diag.scores[k], ROUND))
        for k in sorted(full.scores)
    ]
    return spark.createDataFrame(
        rows, "feature string, carscore double, carscore_diag double"
    )


def _sig_round(v: float, sig: int = ROUND) -> float:
    """Round to ``sig`` SIGNIFICANT digits. Fixed-decimal ROUND keeps too
    many significant digits for a large-magnitude value: a ~961 OLS coef at
    6 decimals is a 9-significant-digit comparison, tighter than the ~1e-9
    relative agreement two engines' float accumulation orders deliver (the
    exact flip observed at sf0.1 — green at sf0.01, red at 10x). The
    DuckDB counterpart is the same log10-derived digit count."""
    import math

    if v == 0 or not math.isfinite(v):
        return v + 0.0
    return round(v, sig - 1 - math.floor(math.log10(abs(v)))) + 0.0


def _sig_round_sql(expr: str, sig: int = ROUND) -> str:
    return (
        f"ROUND({expr}, {sig} - 1 - "
        f"CAST(FLOOR(LOG10(ABS({expr}))) AS INT)) + 0.0"
    )


def q_linear_reg_coefs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """|OLS coefficients| via LinearStep (penalty=0 → MLlib normal-equation
    solve, exact least squares) — closed-form covariance SQL in the oracle.
    Coefficients compare at 6 SIGNIFICANT digits (see _sig_round)."""
    from recipeselectors_spark.operators import LinearStep

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_quantity", "l_discount", "l_extendedprice"
    )
    fitted = LinearStep(
        "l_extendedprice", terms=["l_quantity", "l_discount"], top_p=1
    ).prep(li)
    return _score_frame(spark, fitted.scores, "abs_coef", _sig_round)


def q_linear_coefs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """|logit coefficients| through NormalizeStep + LinearStep. regParam=0
    makes the MLE unique, and tol=1e-12 pins MLlib's L-BFGS to it ~6 orders
    below the ROUND=6 comparison — so the oracle can recompute the SAME
    optimum with 30 Newton/IRLS iterations in a DuckDB recursive CTE."""
    from recipeselectors_spark.operators import LinearStep
    from recipeselectors_spark.plans.pipeline import NormalizeStep, Recipe

    df = _feature_frame(spark, sf_dir)
    rec = (
        Recipe()
        .add(NormalizeStep(["value", "props_len"]))
        .add(
            LinearStep(
                "y", terms=["value", "props_len"], top_p=1,
                max_iter=200, tol=1e-12,
            )
        )
    )
    fitted = rec.prep(df)
    scores = fitted.steps[-1].scores
    return _score_frame(spark, scores, "abs_coef")


def q_forest_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation importance through the REAL RandomForestRegressor, fully
    oracle-checked (step_select_forests.R:73-74 — ranger's
    importance='permutation' default). Two deterministic choices remove
    every RNG stream while keeping the production code path:

    * trees=1 + bootstrap=False + mtry=p (ranger: num.trees/replace/mtry)
      + max_bins >= #distinct — the fit is then the exact variance-gain
      argmax stump (same pinned MLlib midpoint-split semantics as
      tree_importance), replayable in SQL;
    * permute='rotation' — a content-deterministic cyclic rotation in
      md5(seed|l_orderkey|l_linenumber) order within 4096 hash buckets
      (operators/_permute.py:rotate_columns): a true permutation,
      layout-invariant across cluster sizes, replayed with the SAME md5 +
      window functions in DuckDB.

    Output = (MSE_permuted - MSE_base)/MSE_base per feature — the
    scale-free relative metric drop (raw deltas are ~1e5 on a ~1e9 MSE;
    the ratio keeps the oracle comparison in a float-stable range)."""
    from recipeselectors_spark.operators import ForestsStep

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_quantity", "l_discount", "l_extendedprice"
    )
    fitted = ForestsStep(
        "l_extendedprice",
        terms=["l_quantity", "l_discount"],
        top_p=1,
        trees=1,
        mtry=2,
        bootstrap=False,
        max_depth=1,
        max_bins=1000,
        importance="permutation",
        permute="rotation",
        permute_ids=["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"],
        seed=42,
    ).prep(li)
    base = abs(fitted.extras["baseline_metric"])
    # + 0.0 folds IEEE -0.0 (a rounded tiny-negative noise delta) to +0.0
    # so the value hash can't diverge from the oracle's sign of zero
    return _score_frame(
        spark, fitted.scores, "rel_importance", lambda v: round(v / base, 9) + 0.0
    )


def _stump_sql(source: str, xs: list[str], y: str, sfx: str = "") -> str:
    """CTEs suffixed ``sfx`` ending in ``pick{sfx}(feature, thr, lm, rm,
    gain)``: the depth-1 regression tree MLlib fits on the columns ``xs`` of
    ``source`` against ``y`` with maxBins >= #distinct. Split candidates are
    the midpoints of consecutive distinct values
    (findSplitsForContinuousFeature); the split is the argmax of the
    variance gain, ties to the lowest feature index (position in ``xs``),
    then the lowest threshold (binsToBestSplit order); lm/rm are the leaf
    means."""
    melted = "\n  UNION ALL\n  ".join(
        f"SELECT '{x}' AS feature, {i} AS fidx, CAST({x} AS DOUBLE) AS x,"
        f" CAST({y} AS DOUBLE) AS y FROM {source}"
        for i, x in enumerate(xs)
    )
    return f"""melted{sfx} AS (
  {melted}
),
dv{sfx} AS (
  SELECT feature, fidx, x, COUNT(*)::DOUBLE AS n, SUM(y) AS s, SUM(y*y) AS ss
  FROM melted{sfx} GROUP BY feature, fidx, x
),
thr{sfx} AS (
  SELECT feature, fidx,
         (x + LEAD(x) OVER (PARTITION BY feature ORDER BY x))/2 AS t
  FROM dv{sfx} QUALIFY t IS NOT NULL
),
tots{sfx} AS (
  SELECT feature, SUM(n) AS nt, SUM(s) AS st, SUM(ss) AS sst
  FROM dv{sfx} GROUP BY feature
),
gains{sfx} AS (
  SELECT t0.feature, t0.fidx, t0.t, SUM(dv.n) AS nl, SUM(dv.s) AS sl,
         tt.nt, tt.st,
    (tt.sst/tt.nt - (tt.st/tt.nt)^2)
    - (SUM(dv.n)/tt.nt)*(SUM(dv.ss)/SUM(dv.n) - (SUM(dv.s)/SUM(dv.n))^2)
    - ((tt.nt-SUM(dv.n))/tt.nt)
      * ((tt.sst-SUM(dv.ss))/(tt.nt-SUM(dv.n))
         - ((tt.st-SUM(dv.s))/(tt.nt-SUM(dv.n)))^2) AS gain
  FROM thr{sfx} t0
  JOIN dv{sfx} dv ON dv.feature = t0.feature AND dv.x <= t0.t
  JOIN tots{sfx} tt ON tt.feature = t0.feature
  GROUP BY t0.feature, t0.fidx, t0.t, tt.nt, tt.st, tt.sst
),
pick{sfx} AS MATERIALIZED (
  SELECT feature, t AS thr, sl/nl AS lm, (st-sl)/(nt-nl) AS rm, gain
  FROM gains{sfx} ORDER BY gain DESC, fidx, t LIMIT 1
)"""


def _stump_pred_sql(pick: str, cols: dict[str, str]) -> str:
    """The prediction of the stump ``pick`` (a ``_stump_sql`` pick CTE) for
    a row whose value of each feature is the expression ``cols[feature]``."""
    x = " ".join(f"WHEN '{f}' THEN {c}" for f, c in cols.items())
    return (
        f"(CASE WHEN (CASE (SELECT feature FROM {pick}) {x} END)"
        f" <= (SELECT thr FROM {pick})"
        f" THEN (SELECT lm FROM {pick}) ELSE (SELECT rm FROM {pick}) END)"
    )


def _forest_perm_oracle() -> str:
    """Replay of q_forest_importance: the variance-gain stump
    (:func:`_stump_sql`), then per-feature MSE after the md5-bucket cyclic
    rotation of _permute.rotate_columns — seed 42+i per feature, 3 hex
    chars = 4096 buckets, LEAD with first-row wraparound."""

    def rot_win(key: str) -> tuple[str, str]:
        part = (
            f"PARTITION BY substr({key},1,3) ORDER BY {key}, "
            "l_orderkey, l_linenumber, l_partkey, l_suppkey, q, d, y"
        )
        return part, f"{part} ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"

    wq, wqf = rot_win("kq")
    wd, wdf = rot_win("kd")

    def pred(qx: str, dx: str) -> str:
        return _stump_pred_sql("pick", {"l_quantity": qx, "l_discount": dx})

    return f"""
WITH {_stump_sql("lineitem", ["l_quantity", "l_discount"], "l_extendedprice")},
keyed AS (
  SELECT CAST(l_quantity AS DOUBLE) AS q, CAST(l_discount AS DOUBLE) AS d,
         CAST(l_extendedprice AS DOUBLE) AS y,
         l_orderkey, l_linenumber, l_partkey, l_suppkey,
         md5('42|' || CAST(l_orderkey AS VARCHAR) || '|'
                   || CAST(l_linenumber AS VARCHAR) || '|'
                   || CAST(l_partkey AS VARCHAR) || '|'
                   || CAST(l_suppkey AS VARCHAR)) AS kq,
         md5('43|' || CAST(l_orderkey AS VARCHAR) || '|'
                   || CAST(l_linenumber AS VARCHAR) || '|'
                   || CAST(l_partkey AS VARCHAR) || '|'
                   || CAST(l_suppkey AS VARCHAR)) AS kd
  FROM lineitem
),
rot AS (
  SELECT q, d, y,
         COALESCE(LEAD(q) OVER wq, FIRST_VALUE(q) OVER wqf) AS q_rot,
         COALESCE(LEAD(d) OVER wd, FIRST_VALUE(d) OVER wdf) AS d_rot
  FROM keyed
  WINDOW wq AS ({wq}), wqf AS ({wqf}), wd AS ({wd}), wdf AS ({wdf})
),
mse AS (
  SELECT AVG((y - {pred('q', 'd')})^2)         AS m0,
         AVG((y - {pred('q_rot', 'd')})^2)     AS mq,
         AVG((y - {pred('q', 'd_rot')})^2)     AS md_
  FROM rot
)
SELECT 'l_discount' AS feature, ROUND((md_ - m0)/m0, 9) + 0.0 AS rel_importance
FROM mse
UNION ALL
SELECT 'l_quantity', ROUND((mq - m0)/m0, 9) + 0.0 FROM mse
ORDER BY feature
"""


def _vip_gbt_oracle(iters: int = 5, step: float = 0.1) -> str:
    """Replay of q_vip_importance: MLlib GBT stump boosting unrolled as
    chained CTEs. Iteration 0 fits y; iteration m fits 2*(y - pred_m)
    (MLlib SquaredError -gradient) where pred accumulates left-to-right
    with weights [1.0, 0.1, ...]. Each pick{i} is the variance-gain
    stump of :func:`_stump_sql`. Importances = per-feature sum of stump
    gains (GBT featureImportances does NOT normalize per tree; gain*count
    with count = all rows at the root cancels in the min-max rescale),
    rescaled 0-100."""
    feats = ["l_quantity", "l_discount", "l_tax"]
    cols = ", ".join(feats)
    ctes = [
        "rows_g AS (SELECT "
        + ", ".join(f"CAST({f} AS DOUBLE) AS {f}" for f in feats)
        + ", CAST(l_extendedprice AS DOUBLE) AS y FROM lineitem)"
    ]
    own = dict(zip(feats, feats))
    for i in range(iters):
        terms = " + ".join(
            f"{1.0 if k == 0 else step}*{_stump_pred_sql(f'pick{k}', own)}"
            for k in range(i)
        )
        tg = f"2*(y - ({terms}))" if i else "y"
        ctes += [
            f"tgt{i} AS (SELECT {cols}, {tg} AS tg FROM rows_g)",
            _stump_sql(f"tgt{i}", feats, "tg", sfx=str(i)),
        ]
    allp = " UNION ALL ".join(
        f"SELECT feature, gain FROM pick{k}" for k in range(iters)
    )
    names = ", ".join(f"('{f}')" for f in feats)
    ctes += [
        f"allp AS ({allp})",
        f"imp AS (SELECT fn.feature, COALESCE(SUM(p.gain), 0) AS raw"
        f" FROM (VALUES {names}) fn(feature)"
        f" LEFT JOIN allp p ON p.feature = fn.feature GROUP BY fn.feature)",
        "mm AS (SELECT MIN(raw) AS mn, MAX(raw) AS mx FROM imp)",
    ]
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT feature, ROUND((raw - mn)/(mx - mn)*100, {ROUND}) AS importance
FROM imp, mm ORDER BY feature
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (emails/phones/IPv4 -> typed placeholders) over documents
    augmented with deterministic synthetic PII. Patterns live in the
    Java-regex ∩ RE2 common subset so the DuckDB oracle runs the SAME
    patterns; output = per-doc redaction count + md5 of the scrubbed text."""
    from recipeselectors_spark.functions import text as TX

    docs = _documents(spark, sf_dir)
    aug = docs.withColumn(
        "t",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-123-4567 at 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
        ),
    )
    return aug.select(
        "doc_id",
        TX.pii_count("t").cast("bigint").alias("n_pii"),
        F.md5(TX.scrub_pii("t")).alias("scrubbed_md5"),
    )


def _pii_scrub_oracle() -> str:
    from recipeselectors_spark.functions.text import PII_PATTERNS

    # count each pattern on the PROGRESSIVELY-scrubbed text, exactly as
    # functions/text.py:pii_count does (sequential-substitution semantics)
    count_terms, scrub = [], "t"
    for name, pat in PII_PATTERNS:
        count_terms.append(f"length(regexp_extract_all({scrub}, '{pat}'))")
        scrub = f"regexp_replace({scrub}, '{pat}', '<{name}>', 'g')"
    counts = " + ".join(count_terms)
    return f"""
        WITH aug AS (
          SELECT doc_id,
                 text || ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@example.com or 555-123-4567 at 10.0.0.'
                      || CAST(doc_id % 256 AS VARCHAR) AS t
          FROM documents
        )
        SELECT doc_id, CAST({counts} AS BIGINT) AS n_pii,
               md5({scrub}) AS scrubbed_md5
        FROM aug
    """


_HH_SUPPORT = 0.004


def q_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level token frequency top-50 (explode -> map-side-combined
    count -> TakeOrdered): the classic corpus-stats pass. Merged r5
    (50-slot contract): ``hh_count`` drives the REAL
    sketch.frequent_tokens operator — per-partition mergeable Misra-Gries
    candidates + exact recount — at support 0.4%; the oracle recomputes
    the threshold from plain GROUP BY/HAVING, so a candidate ever LOST by
    the Misra-Gries guarantee would hash-mismatch here."""
    from recipeselectors_spark.functions import text as TX
    from recipeselectors_spark.operators import sketch

    from recipeselectors_spark.operators._parallel import ensure_parallelism

    docs = ensure_parallelism(_documents(spark, sf_dir))
    topk = (
        docs.select(F.explode(TX.tokens(F.lower(F.col("text")))).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(50)
    )
    hh = sketch.frequent_tokens(docs, support=_HH_SUPPORT).withColumnRenamed(
        "count", "hh_count"
    )
    return topk.join(hh, "token", "left").select(
        "token", "n", F.col("hh_count").cast("bigint").alias("hh_count")
    )


_TOKEN_TOPK_ORACLE = f"""
    WITH tt AS (
      SELECT token, COUNT(*) AS n FROM (
        SELECT unnest({_WORDS_SQL}) AS token
        FROM documents
      )
      WHERE token != ''
      GROUP BY token
    ),
    tot AS (SELECT SUM(n) AS s FROM tt)
    SELECT token, n,
           CASE WHEN n >= {_HH_SUPPORT} * (SELECT s FROM tot)
                THEN n END AS hh_count
    FROM tt
    ORDER BY n DESC, token
    LIMIT 50
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus dedup with TRUE duplicate clusters: exact-first, MinHash-LSH
    pairs, connected components (driver union-find on a small pair graph,
    large-star/small-star above it), keep the min id per component. The
    oracle recomputes the components with a
    recursive transitive-closure CTE over the same bit-exact XXH64 MinHash
    pipeline."""
    from recipeselectors_spark.operators import dedup as D

    out = D.dedup_corpus_clusters(_documents(spark, sf_dir), threshold=0.8)
    return out.select("doc_id")


# the exact keep-first dedup (dedup.drop_exact_duplicates): the smallest id
# per md5 of the text
_UNIQ_DOCS_SQL = """
        uniq AS (
          SELECT doc_id, text FROM documents
          QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(text)
                                     ORDER BY doc_id) = 1
        ),
    """


def _components_sql(edges: str, anchor: str) -> str:
    """CTEs ``sym``, ``reach`` and ``lab(v, cluster)``: each vertex of the
    one-column query ``anchor`` labelled with the smallest vertex reachable
    from it over the undirected pairs ``edges(id_a, id_b)`` — the recursive
    transitive closure that replays dedup.connected_components."""
    return f"""
        sym AS (
          SELECT id_a AS s, id_b AS d FROM {edges}
          UNION ALL SELECT id_b, id_a FROM {edges}
        ),
        reach(a, b) AS (
          SELECT v, v FROM ({anchor}) seed(v)
          UNION
          SELECT r.a, e.d FROM reach r JOIN sym e ON e.s = r.b
        ),
        lab AS (SELECT a AS v, MIN(b) AS cluster FROM reach GROUP BY a)"""


def _dedup_clusters_oracle() -> str:
    return f"""
        WITH RECURSIVE {_UNIQ_DOCS_SQL}
        {_minhash_pipeline_sql('uniq', threshold=0.8, max_bucket=10_000)},
        {_components_sql("near_dup_pairs", "SELECT doc_id FROM uniq")}
        SELECT v AS doc_id FROM lab WHERE v = cluster
    """


_REPETITION_ORACLE = f"""
    WITH t AS (SELECT doc_id, {_WORDS_SQL} AS toks FROM documents),
    g AS (
      SELECT doc_id, toks,
             CASE WHEN length(toks) >= 2 THEN {_ngrams_sql("toks", 2)}
             ELSE toks END AS bigrams
      FROM t
    )
    SELECT doc_id,
           ROUND(1.0 - length(list_distinct(toks))::DOUBLE
                 / greatest(length(toks), 1), {ROUND}) AS rep_unigram,
           ROUND(1.0 - length(list_distinct(bigrams))::DOUBLE
                 / greatest(length(bigrams), 1), {ROUND}) AS rep_bigram
    FROM g
"""


_DSIR_B = 4096
_DSIR_ALPHA = 1.0


def q_det_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-deterministic sampling (operators/sampling.py): membership =
    pmod(xxhash64(str(key), salt), 1e6) < frac*1e6 — same sample on any
    layout/cluster/engine, unlike df.sample(seed) which changes with the
    partitioning. Stratified: 'en'-labeled docs kept at a different rate.
    Oracle replays the hash via the XXH64 SQL port.

    ALSO merged r5: the sampled rows carry the full DSIR importance-
    resampling signal (operators/dsir.py — Xie et al. 2023): target =
    'en'-labeled docs, raw = the whole corpus, add-α hashed unigram+bigram
    models, per-doc log likelihood-ratio (`dsir_logw`) and the
    deterministic Gumbel-perturbed resampling key (`dsir_key`). The oracle
    recomputes both from scratch — gram explosion, md5-bucket hash, model
    fit, Gumbel noise — with no baked constants."""
    from recipeselectors_spark.functions import text as TX
    from recipeselectors_spark.operators import dsir, sampling

    docs = _documents(spark, sf_dir).withColumn(
        "lang", TX.langid_expr("text")
    )
    out = sampling.deterministic_sample(
        docs, 0.25, key="doc_id", salt=7,
        strata={"en": 0.5}, strata_col="lang",
    )
    target = docs.where(F.col("lang") == "en").select("text")
    ratio, zero = dsir.fit_bucket_ratio(
        target, docs, n_buckets=_DSIR_B, alpha=_DSIR_ALPHA
    )
    w = dsir.dsir_logweights(
        docs, ratio, zero, n_buckets=_DSIR_B
    )
    keyed = w.select(
        "doc_id",
        F.col("log_w"),
        (
            F.col("log_w")
            + dsir.gumbel_key(F.col("doc_id").cast("string"))
        ).alias("__key__"),
    )
    return (
        out.select("doc_id", "lang")
        .join(keyed, "doc_id")
        .select(
            "doc_id",
            "lang",
            F.round("log_w", ROUND).alias("dsir_logw"),
            F.round("__key__", ROUND).alias("dsir_key"),
        )
    )


def _det_sample_oracle() -> str:
    from recipeselectors_spark.functions import xxh64_sql as X
    from recipeselectors_spark.operators.sampling import BUCKETS

    h = X.to_signed_sql(
        X.hash_int_sql("7", X.xxh64_str_sql("CAST(doc_id AS VARCHAR)"))
    )
    bucket = f"(({h}) % {BUCKETS} + {BUCKETS}) % {BUCKETS}"
    # DSIR replay: hashed unigram+bigram buckets via the md5-prefix trick
    # (identical to Spark's conv(substr(md5(g),1,15),16,10) % B), add-alpha
    # model counts fitted in SQL (nt/nr/dt/dr are exact integers-in-double),
    # Gumbel key from md5('dsir|'||id) — u strictly inside (0,1).
    a, B = _DSIR_ALPHA, _DSIR_B
    u = (
        "(('0x' || substr(md5('dsir|' || CAST(s.doc_id AS VARCHAR)), 1, 15))"
        f"::UBIGINT::DOUBLE + 0.5::DOUBLE) / {float(16 ** 15)!r}::DOUBLE"
    )
    return f"""
        WITH langed AS (
          SELECT doc_id, lang_pred AS lang FROM ({_langid_oracle()})
        ),
        sampled AS (
          SELECT doc_id, lang FROM langed
          WHERE {bucket} < CASE WHEN lang = 'en'
                                THEN {int(0.5 * BUCKETS)}
                                ELSE {int(0.25 * BUCKETS)} END
        ),
        ftk AS (
          SELECT doc_id,
                 {_TOKENS_SQL} AS tk
          FROM documents
        ),
        grams AS (
          SELECT doc_id,
                 unnest(tk || CASE WHEN length(tk) >= 2
                   THEN {_ngrams_sql("tk", 2)} ELSE [] END) AS gram
          FROM ftk
        ),
        gb AS (
          SELECT doc_id,
                 (('0x' || substr(md5(gram), 1, 15))::UBIGINT
                  % {B})::BIGINT AS bucket
          FROM grams
        ),
        tcnt AS (
          SELECT bucket, COUNT(*)::BIGINT AS c FROM gb
          JOIN langed USING (doc_id) WHERE lang = 'en' GROUP BY 1
        ),
        rcnt AS (SELECT bucket, COUNT(*)::BIGINT AS c FROM gb GROUP BY 1),
        tot AS (
          SELECT (SELECT COALESCE(SUM(c), 0) FROM tcnt)::DOUBLE
                   + {a}::DOUBLE * {B} AS dt,
                 (SELECT COALESCE(SUM(c), 0) FROM rcnt)::DOUBLE
                   + {a}::DOUBLE * {B} AS dr
        ),
        ratio AS (
          SELECT bucket,
                 ln((COALESCE(t.c, 0) + {a}::DOUBLE) / tot.dt)
                 - ln((COALESCE(r.c, 0) + {a}::DOUBLE) / tot.dr) AS logr
          FROM tcnt t FULL OUTER JOIN rcnt r USING (bucket) CROSS JOIN tot
        ),
        w AS (
          SELECT gb.doc_id, SUM(ratio.logr) AS log_w
          FROM gb JOIN ratio USING (bucket) GROUP BY 1
        ),
        lw AS (
          SELECT d.doc_id, COALESCE(w.log_w, 0.0::DOUBLE) AS log_w
          FROM documents d LEFT JOIN w ON d.doc_id = w.doc_id
        )
        SELECT s.doc_id, s.lang,
               ROUND(lw.log_w, {ROUND}) AS dsir_logw,
               ROUND(lw.log_w + (-ln(-ln({u}))), {ROUND}) AS dsir_key
        FROM sampled s JOIN lw ON s.doc_id = lw.doc_id
    """


_PACK_BUDGET = 128
_PACK_SALT = 3
_PACK_CHARS = 2


def q_split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-based train/val/test split PLUS sequence packing in one query
    (the driver contract is capped at 50 slots — related batch-assembly
    checks share one). Split: disjoint, exhaustive, deterministic by key
    content — rows of one key co-travel (leakage-free grouped splits).
    Packing (operators/sampling.py:pack_sequences): docs ordered by
    xxhash64 within md5-hex buckets, assigned to fixed token budgets by
    running cumsum; ``straddles`` marks budget-boundary crossers. Oracle
    replays the XXH64 cutoff chain, the md5 bucket, AND the window cumsum."""
    from recipeselectors_spark.operators import sampling

    docs = _documents(spark, sf_dir).withColumn(
        "n_toks", F.size(F.split(F.col("text"), " ")).cast("bigint")
    )
    out = sampling.split_by_hash(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1}, key="doc_id", salt=1
    )
    packed = sampling.pack_sequences(
        out, "n_toks", key="doc_id", budget=_PACK_BUDGET, salt=_PACK_SALT,
        bucket_chars=_PACK_CHARS,
    )
    return packed.select("doc_id", "split", "pack_id", "straddles")


def _split_hash_oracle() -> str:
    from recipeselectors_spark.functions import xxh64_sql as X
    from recipeselectors_spark.operators.sampling import BUCKETS

    h = X.to_signed_sql(
        X.hash_int_sql("1", X.xxh64_str_sql("CAST(doc_id AS VARCHAR)"))
    )
    bucket = f"(({h}) % {BUCKETS} + {BUCKETS}) % {BUCKETS}"
    # pack order key: SIGNED xxhash64(str(doc_id), salt) — Spark orders the
    # raw int64; the md5 bucket is the leading hex chars parsed to decimal
    # (Spark F.conv == DuckDB '0x'-prefixed UBIGINT cast, both drop leading
    # zeros in the VARCHAR rendering)
    kc = X.to_signed_sql(
        X.hash_int_sql(str(_PACK_SALT), X.xxh64_str_sql("CAST(doc_id AS VARCHAR)"))
    )
    # names sorted: test, train, val; cumulative cutoffs 0.1, 0.9; rest=val
    return f"""
        WITH base AS (
          SELECT doc_id,
                 length(string_split(text, ' '))::BIGINT AS n_toks,
                 CASE WHEN {bucket} < {int(0.1 * BUCKETS)} THEN 'test'
                      WHEN {bucket} < {int(0.9 * BUCKETS)} THEN 'train'
                      ELSE 'val' END AS split,
                 ({kc}) AS kc,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1,
                                 {_PACK_CHARS}))::UBIGINT AS bkt
          FROM documents
        ),
        packed AS (
          SELECT doc_id, split, n_toks, bkt,
                 SUM(n_toks) OVER (PARTITION BY bkt ORDER BY kc, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_after
          FROM base
        )
        SELECT doc_id, split,
               CAST(bkt AS VARCHAR) || '-' ||
                 CAST((cum_after - n_toks) // {_PACK_BUDGET} AS VARCHAR)
                 AS pack_id,
               (cum_after - n_toks) // {_PACK_BUDGET}
                 <> (cum_after - 1) // {_PACK_BUDGET} AS straddles
        FROM packed
    """


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing >= 2 word-3-
    shingles with a benchmark set (here: docs with doc_id < 20 as a stand-in
    benchmark, guaranteeing both organic hits and clean docs). Oracle
    replays the xxhash64 shingle sets in SQL."""
    from recipeselectors_spark.operators import dedup as D

    docs = _documents(spark, sf_dir)
    bench = docs.where(F.col("doc_id") < 20).select("text")
    out = D.decontaminate(docs, bench, min_overlap=2)
    return out.select(
        "doc_id",
        F.col("n_contaminated").cast("bigint").alias("n_contaminated"),
        "contaminated",
    )


def _decontaminate_oracle() -> str:
    return f"""
        WITH {_shingles_sql("documents")},
        bench AS (
          SELECT DISTINCT unnest(hs) AS s FROM sh WHERE doc_id < 20
        ),
        doc_sh AS (SELECT doc_id, unnest(hs) AS s FROM sh),
        hits AS (
          SELECT doc_id, COUNT(*) AS n FROM doc_sh JOIN bench USING (s)
          GROUP BY doc_id
        )
        SELECT t.doc_id, CAST(COALESCE(h.n, 0) AS BIGINT) AS n_contaminated,
               COALESCE(h.n, 0) >= 2 AS contaminated
        FROM toks_t t LEFT JOIN hits h USING (doc_id)
    """


def q_tree_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-tree importance (TreeStep, step_select_tree.R:134-195). At
    depth 1 the importance vector is {split feature: 100, other: 0} after
    the 0-100 rescale, and with maxBins >= distinct values MLlib's split
    candidates are exactly the midpoints of consecutive distinct values —
    so the oracle can recompute the root split as an argmax over candidate
    thresholds of the weighted variance reduction, entirely in SQL."""
    from recipeselectors_spark.operators import TreeStep

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_quantity", "l_discount", "l_extendedprice"
    )
    fitted = TreeStep(
        "l_extendedprice",
        terms=["l_quantity", "l_discount"],
        top_p=1,
        tree_depth=1,
        max_bins=1000,
    ).prep(li)
    return _score_frame(spark, fitted.scores, "importance")


# depth-1 DecisionTreeRegressor: featureImportances at depth 1 = [1, 0] for
# the split feature, rescaled 0-100 by pull_importances
_TREE_ORACLE = f"""
WITH {_stump_sql("lineitem", ["l_quantity", "l_discount"], "l_extendedprice")}
SELECT f.feature,
       CASE WHEN f.feature = (SELECT feature FROM pick)
            THEN 100.0 ELSE 0.0 END AS importance
FROM (SELECT DISTINCT feature FROM melted) f
ORDER BY f.feature
"""


def q_vip_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIP step with a user-supplied ITERATIVE MLlib ensemble — a real
    GBTRegressor boosting fit — through the pull_importances registry
    (step_select_vip.R:120-162), fully oracle-checked.

    With maxDepth=1 and maxBins >= #distinct there is NO RNG anywhere in
    the fit: split candidates are the exact midpoints of consecutive
    distinct values (no sampling below the max(maxBins^2, 10000)-row
    threshold), subsamplingRate=1, featureSubsetStrategy=all. The boosting
    recurrence is then replayable term-for-term: tree 0 fits y (weight
    1.0); tree m>=1 fits -grad = 2*(y - pred) (MLlib SquaredError) and
    adds stepSize=0.1 times its leaf means; each tree is the variance-gain
    argmax stump (ties: lowest feature index, then lowest threshold).
    featureImportances for GBT sums gain*count across trees WITHOUT
    per-tree normalization, and VIP's 0-100 min-max rescale is
    normalization-invariant — so the oracle unrolls the 5 iterations as
    chained CTEs and recovers the identical importances (verified to
    ~1e-11 against MLlib; comparison needs 5e-7)."""
    from pyspark.ml.regression import GBTRegressor

    from recipeselectors_spark.operators import VipStep

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_quantity", "l_discount", "l_tax", "l_extendedprice"
    )
    fitted = VipStep(
        "l_extendedprice",
        model=GBTRegressor(
            maxIter=5, maxDepth=1, maxBins=1000, seed=42, stepSize=0.1
        ),
        terms=["l_quantity", "l_discount", "l_tax"],
        top_p=1,
    ).prep(li)
    return _score_frame(spark, fitted.scores, "importance")


def q_vip_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VIP registry path with a DETERMINISTIC user model: a depth-1
    DecisionTreeRegressor through VipStep (estimator cloning + the
    pull_importances dispatch + the 0-100 rescale) — same variance-gain
    argmax oracle as tree_importance, but exercising the user-supplied-
    estimator surface end-to-end (step_select_vip.R:120-162). The GBT
    variant (`vip_importance`) is ALSO fully oracle-checked: its RNG-free
    boosting recurrence is unrolled in chained CTEs."""
    from pyspark.ml.regression import DecisionTreeRegressor

    from recipeselectors_spark.operators import VipStep

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_quantity", "l_discount", "l_extendedprice"
    )
    fitted = VipStep(
        "l_extendedprice",
        model=DecisionTreeRegressor(maxDepth=1, maxBins=1000, seed=42),
        terms=["l_quantity", "l_discount"],
        top_p=1,
    ).prep(li)
    return _score_frame(spark, fitted.scores, "importance")


_BORUTA_BIAS = {"value": 1.0, "props_len": -0.5, "value_sq": 0.3}
_BORUTA_MAX_RUNS = 16


def q_boruta_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage Boruta oracle (step_select_boruta.R:97-133). The DECISION
    layer — per-run hit bookkeeping against max(shadow), the exact-binomial
    tails Bonferroni-adjusted over ALL attributes (Boruta:::TestFeatures),
    early stop, Tentative kept — is a pure function of the importance
    stream, so this query drives BorutaStep.prep's real loop with a
    deterministic md5 pseudo-importance (bias(name) + md5_u64/2^64) that
    DuckDB replays bit-for-bit via md5_number_upper, and the oracle
    recomputes hits, runs, and all three decisions (Confirmed / Rejected /
    Tentative appear) with lgamma binomial tails in SQL. Only the MLlib
    ensemble-RNG importance VALUES inside a default multi-tree Boruta stay
    pytest-pinned (decision-agreement tests on the real RandomForest
    path); the driver-checked queries (`forest_importance`,
    `vip_importance`, this one) all carry full SQL oracles."""
    import hashlib

    import numpy as np
    from recipeselectors_spark.operators import BorutaStep

    class SqlReplayBoruta(BorutaStep):
        def _fit_importances(self, df, all_feats, kind, run=0):
            # the run number arrives explicitly (runs may be fitted
            # concurrently since r6) — same per-run stream as the old
            # call-order counter, now order-independent
            out = []
            for name in all_feats:
                d = hashlib.md5(f"{name}:{run}".encode()).digest()
                u = int.from_bytes(d[:8], "little") / 2.0**64
                out.append(_BORUTA_BIAS.get(name, 0.0) + u)
            return np.array(out)

    df = _feature_frame(spark, sf_dir).withColumn(
        "value_sq", F.col("value") * F.col("value")
    )
    fitted = SqlReplayBoruta(
        "y",
        terms=["value", "props_len", "value_sq"],
        max_runs=_BORUTA_MAX_RUNS,
        seed=42,
    ).prep(df)
    hits = fitted.extras["hits"]
    dec = fitted.extras["decision"]
    runs = fitted.params["runs"]
    rows = [(k, hits[k], runs, dec[k]) for k in sorted(dec)]
    return spark.createDataFrame(
        rows, "feature string, hits bigint, runs bigint, decision string"
    )


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate pairs (shingle -> 32 affine permutations
    -> 8 band buckets -> bucket join -> est-Jaccard verify). Oracle-checked:
    the Catalyst xxhash64 shingle/band hashing is replayed bit-exactly in
    DuckDB SQL (functions/xxh64_sql.py)."""
    from recipeselectors_spark.operators import dedup as D

    return D.minhash_dedup_pairs(
        _documents(spark, sf_dir), num_perm=32, bands=8, threshold=0.8
    ).withColumn("est_jaccard", F.round("est_jaccard", ROUND))


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from recipeselectors_spark.operators import dedup as D

    return D.with_simhash(_documents(spark, sf_dir)).select("doc_id", "simhash")


def q_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via hyperplane-LSH + exact verify,
    PLUS the semantic-dedup component layer: ``cluster`` labels each pair with the connected-component
    minimum of its endpoints (operators/dedup.py:connected_components —
    the grouping semantic_dedup keeps one representative per). The oracle
    recomputes the components with a recursive transitive-closure CTE over
    the same verified pair graph."""
    from recipeselectors_spark.operators import dedup as D

    # random test embeddings have no true near-dups at high thresholds;
    # 0.3 exercises the LSH-candidate + exact-verify path with real output
    pairs = D.embedding_near_dup_pairs(
        _embeddings(spark, sf_dir), threshold=0.3, n_planes=6, bands=6
    )
    verts = (
        pairs.select(F.col("id_a").alias("vec_id"))
        .unionByName(pairs.select(F.col("id_b").alias("vec_id")))
        .distinct()
    )
    comp = D.connected_components(pairs, verts, id_col="vec_id")
    return (
        pairs.join(comp, pairs.id_a == comp.vec_id)
        .select(
            "id_a", "id_b",
            F.round("cosine", 5).alias("cosine"),
            F.col("cluster").cast("bigint").alias("cluster"),
        )
    )


_SPAN_K = 16
_SPAN_WINDOW = 8
_SPAN_MIN_SHARED = 2
_SPAN_MAX_POSTINGS = 10_000


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint PLUS repeated-span detection in one query (the
    50-slot contract — both run the same winnowing family). ``fingerprint``
    is the rolling min-hash (winnowing-lite); ``n_span_partners`` counts
    the documents sharing >= min_shared FULL-winnowing fingerprints
    (operators/dedup.py:repeated_span_pairs — the posting-list self-join
    that catches cross-document boilerplate MinHash misses). The oracle
    replays BOTH kernels: the 257-power rolling hash mod 2^31 and the full
    Schleimer winnowing (k-gram polynomial hash mod the <2^55 prime,
    sliding-window min, posting-list pair join) in pure SQL."""
    from recipeselectors_spark.operators import dedup as D

    docs = _documents(spark, sf_dir)
    fp = D.with_fingerprint(docs).select("doc_id", "fingerprint")
    pairs = D.repeated_span_pairs(
        docs, k=_SPAN_K, window=_SPAN_WINDOW, min_shared=_SPAN_MIN_SHARED,
        max_postings=_SPAN_MAX_POSTINGS,
    )
    partners = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("id_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_span_partners"))
    )
    return fp.join(partners, "doc_id", "left").select(
        "doc_id",
        "fingerprint",
        F.coalesce("n_span_partners", F.lit(0)).cast("bigint")
        .alias("n_span_partners"),
    )


def q_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from recipeselectors_spark.operators import similarity as S

    emb = _embeddings(spark, sf_dir)
    corpus = emb.where(F.col("vec_id") >= 10)
    query = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    out = S.lsh_ann_topk(corpus, query, k=5, n_planes=4, bands=8)
    return out.withColumn("cosine", F.round("cosine", 5)).withColumn(
        "rank", F.col("rank").cast("bigint")
    )


# ---------------------------------------------------------------------------
# generated oracles (SQL built in Python so numpy-seeded constants — LSH
# hyperplanes, stopword inventories — are baked in as literals and can never
# drift from the Spark implementation)
# ---------------------------------------------------------------------------

def _langid_oracle() -> str:
    from recipeselectors_spark.functions.text import STOPWORDS

    structs = []
    for lang in ("en", "de", "fr", "es"):
        words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
        structs.append(
            f"{{'v': length(list_filter(toks, t -> list_contains([{words}], t))), "
            f"'lang': '{lang}'}}"
        )
    return f"""
        WITH t AS (SELECT doc_id, {_WORDS_SQL} AS toks FROM documents),
        v AS (
          -- struct max == Spark array_max over struct<v,lang>: highest vote,
          -- ties broken by the lexicographically greatest language
          SELECT doc_id,
                 list_aggregate([{", ".join(structs)}], 'max') AS m
          FROM t
        )
        SELECT doc_id,
               CASE WHEN m.v > 0 THEN m.lang ELSE 'und' END AS lang_pred
        FROM v
    """


def _banded_sql(n_planes: int, bands: int, seed: int, stride: int) -> str:
    """UNION ALL of per-band sign-signature selects over CTE ``e`` —
    hyperplanes regenerated from the same numpy seeds as the Spark side."""
    from recipeselectors_spark.operators.similarity import _hyperplanes

    parts = []
    for b in range(bands):
        planes = _hyperplanes(64, n_planes, seed + stride * b)
        sig = " + ".join(
            f"(CASE WHEN list_dot_product(emb, "
            f"[{', '.join(repr(float(v)) for v in p)}]) > 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(planes)
        )
        parts.append(
            f"SELECT vec_id, emb, {b} AS band, ({sig}) AS bucket FROM e"
        )
    return " UNION ALL ".join(parts)


# the embeddings as DOUBLE[] vectors
_EMB_SQL = "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings"

# the top 5 of ``scored(q_id, vec_id, cosine)`` per query (similarity.py's
# per-query top-k: cosine desc, then vec_id)
_COSINE_TOP5_SQL = """
        ranked AS (
          SELECT q_id, vec_id, cosine,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY cosine DESC, vec_id) AS rank
          FROM scored
        )
        SELECT q_id, vec_id, ROUND(cosine, 5) AS cosine, rank
        FROM ranked WHERE rank <= 5
    """


_COS = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


def _embedding_dedup_oracle() -> str:
    banded = _banded_sql(n_planes=6, bands=6, seed=42, stride=31)
    cos = _COS.format(a="ea.emb", b="eb.emb")
    return f"""
        WITH RECURSIVE e AS ({_EMB_SQL}),
        banded AS ({banded}),
        cand AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM banded a JOIN banded b USING (band, bucket)
          WHERE a.vec_id < b.vec_id
        ),
        scored AS (
          SELECT id_a, id_b, {cos} AS cosine
          FROM cand
          JOIN e ea ON ea.vec_id = cand.id_a
          JOIN e eb ON eb.vec_id = cand.id_b
        ),
        kept AS (
          SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.3
        ),{_components_sql("kept", "SELECT s FROM sym")}
        SELECT id_a, id_b, ROUND(cosine, 5) AS cosine, lab.cluster
        FROM kept JOIN lab ON lab.v = kept.id_a
    """


def _lsh_ann_oracle() -> str:
    banded = _banded_sql(n_planes=4, bands=8, seed=42, stride=97)
    cos = _COS.format(a="ec.emb", b="eq.emb")
    return f"""
        WITH full_e AS ({_EMB_SQL}),
        corpus_banded AS (
          WITH e AS (SELECT * FROM full_e WHERE vec_id >= 10)
          SELECT * FROM ({banded})
        ),
        query_banded AS (
          WITH e AS (SELECT * FROM full_e WHERE vec_id < 3)
          SELECT * FROM ({banded})
        ),
        cand AS (
          SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS vec_id
          FROM corpus_banded c JOIN query_banded q USING (band, bucket)
        ),
        scored AS (
          SELECT q_id, cand.vec_id, {cos} AS cosine
          FROM cand
          JOIN full_e ec ON ec.vec_id = cand.vec_id
          JOIN full_e eq ON eq.vec_id = cand.q_id
        ),{_COSINE_TOP5_SQL}"""


# FNV-1a 64-bit over a byte list (functions/text.py:hash_str64) as a DuckDB
# expression: HUGEINT arithmetic mod 2^64, init value prepended (DuckDB 1.0's
# list_reduce takes no initial accumulator). Byte lists come from
# xxh64_sql.str_to_bytes_sql — true UTF-8 bytes for any Unicode input.
_FNV64 = (
    "list_reduce([14695981039346656037::HUGEINT] || [b::HUGEINT FOR b IN {bytes}], "
    "(h, b) -> (xor(h::UBIGINT, b::UBIGINT)::HUGEINT * 1099511628211::HUGEINT) "
    "% 18446744073709551616::HUGEINT)"
)


def _simhash_oracle() -> str:
    """64-bit SimHash (functions/text.py:simhash64): FNV-1a per lowercased
    whitespace token, per-bit +/-1 votes over all tokens (duplicates
    included), bit i set iff votes > 0; the uint64 signature reinterpreted
    as int64 (numpy astype wrap)."""
    from recipeselectors_spark.functions import xxh64_sql as X

    tok_bytes = X.str_to_bytes_sql("tok")
    return f"""
        WITH t AS (
          SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
        ),
        th AS (
          SELECT doc_id, {_FNV64.format(bytes=tok_bytes)} AS h
          FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
        ),
        votes AS (
          SELECT doc_id, i,
                 SUM(CASE WHEN (h >> i) % 2 = 1 THEN 1 ELSE -1 END) AS v
          FROM th CROSS JOIN generate_series(0, 63) g(i)
          GROUP BY doc_id, i
        ),
        sig AS (
          SELECT doc_id,
                 SUM(CASE WHEN v > 0 THEN (1::HUGEINT << i)
                          ELSE 0::HUGEINT END) AS s
          FROM votes GROUP BY doc_id
        )
        SELECT t.doc_id,
               CAST(CASE WHEN COALESCE(sig.s, 0) >= 9223372036854775808::HUGEINT
                         THEN COALESCE(sig.s, 0) - 18446744073709551616::HUGEINT
                         ELSE COALESCE(sig.s, 0) END AS BIGINT) AS simhash
        FROM t LEFT JOIN sig USING (doc_id)
    """


def _fingerprint_oracle(window: int = 16, mod: int = 1 << 31) -> str:
    """Winnowing-lite rolling fingerprint (functions/text.py:
    rolling_fingerprint): min over all byte windows of the Rabin-Karp hash
    sum(byte[j]*257^(w-1-j)) mod 2^31; texts shorter than the window fall
    back to FNV-1a mod 2^31. The 257-powers are baked from Python so they
    cannot drift."""
    from recipeselectors_spark.functions import xxh64_sql as X

    pows = [pow(257, window - 1 - j, mod) for j in range(window)]
    pws = "[" + ", ".join(str(p) for p in pows) + "]"
    return f"""
        WITH t AS (
          SELECT doc_id, {X.str_to_bytes_sql("text")} AS bts
          FROM documents
        ),
        rolled AS (
          SELECT doc_id,
            CASE WHEN length(bts) < {window}
              THEN {_FNV64.format(bytes="bts")} % {mod}
              ELSE list_min([
                     list_sum([bts[i+j-1]::BIGINT * ({pws})[j]
                               FOR j IN generate_series(1, {window})]) % {mod}
                     FOR i IN generate_series(1, length(bts) - {window} + 1)])
            END AS fp
          FROM t
        ){{extra_ctes}}
        SELECT doc_id, CAST(fp AS BIGINT) AS fingerprint{{extra_cols}} FROM rolled
        {{extra_tail}}
    """


def _fingerprint_spans_oracle() -> str:
    """q_fingerprint's combined oracle: the rolling fingerprint CTEs from
    :func:`_fingerprint_oracle` plus a full-winnowing replay
    (functions/text.py:winnow_fingerprints + operators/dedup.py:
    repeated_span_pairs). Gram hash h[i] = sum_j byte[i+j]*257^(k-1-j) mod
    p with p = 2^55-55 (products HUGEINT-safe, true polynomial hash — the
    same guarantee the numpy kernel now enforces); fingerprints = distinct
    sliding-window minima; pairs = posting-list self-join within
    fingerprint, capped at max_postings docs per fingerprint, kept at
    >= min_shared shared prints; n_span_partners = per-doc partner count."""
    from recipeselectors_spark.functions.text import WINNOW_MOD

    k, w = _SPAN_K, _SPAN_WINDOW
    wpows = [pow(257, k - 1 - j, WINNOW_MOD) for j in range(k)]
    wp = "[" + ", ".join(str(p) for p in wpows) + "]"
    base = _fingerprint_oracle()
    extra_ctes = f""",
        grams AS (
          SELECT doc_id,
            CASE WHEN length(bts) < {k}
              THEN [{_FNV64.format(bytes="bts")} % {WINNOW_MOD}]
              ELSE [CAST(list_sum([bts[i+j-1]::HUGEINT * ({wp})[j]
                            FOR j IN generate_series(1, {k})])
                         % {WINNOW_MOD} AS HUGEINT)
                    FOR i IN generate_series(1, length(bts) - {k} + 1)]
            END AS h
          FROM t
        ),
        winnowed AS (
          SELECT doc_id,
            CASE WHEN length(h) < {w} THEN list_distinct(h)
                 ELSE list_distinct([list_min(h[i:i+{w - 1}])
                        FOR i IN generate_series(1, length(h) - {w} + 1)])
            END AS fps
          FROM grams
        ),
        postings AS (
          SELECT doc_id, unnest(fps) AS wfp FROM winnowed
        ),
        capped AS (
          SELECT doc_id, wfp FROM postings
          QUALIFY COUNT(*) OVER (PARTITION BY wfp) <= {_SPAN_MAX_POSTINGS}
        ),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM capped a JOIN capped b USING (wfp)
          WHERE a.doc_id < b.doc_id
          GROUP BY 1, 2
          HAVING COUNT(*) >= {_SPAN_MIN_SHARED}
        ),
        partners AS (
          SELECT doc_id, COUNT(*) AS n_span_partners FROM (
            SELECT id_a AS doc_id FROM pairs
            UNION ALL SELECT id_b FROM pairs)
          GROUP BY doc_id
        )
    """
    return base.format(
        extra_ctes=extra_ctes.rstrip(),
        extra_cols=", COALESCE(p.n_span_partners, 0) AS n_span_partners",
        extra_tail="LEFT JOIN partners p USING (doc_id)",
    )


def _media_features_oracle() -> str:
    """Expected decode outputs baked as VALUES: the synthesis is a pure
    function of n=60 (no table data), so the driver-side numpy pipeline
    (multimodal.synthesize_real_media_pandas -> decode_media_batch) IS the
    ground truth; ROUND applied in SQL so both sides share DuckDB/Spark
    HALF_UP semantics."""
    from recipeselectors_spark.operators import multimodal

    pdf = multimodal.synthesize_real_media_pandas(n=60)
    feats, ok = multimodal.decode_media_batch(pdf["payload"], pdf["kind"])
    rows = []
    for i in range(len(pdf)):
        payload = pdf["payload"].iloc[i]
        rows.append(
            f"({int(pdf['media_id'].iloc[i])}, '{pdf['kind'].iloc[i]}', "
            f"{0 if payload is None else len(payload)}, "
            f"{'true' if ok[i] else 'false'}, "
            f"{feats[i][0]!r}::DOUBLE, {feats[i][4]!r}::DOUBLE)"
        )
    values = ",\n              ".join(rows)
    return f"""
        SELECT media_id, kind, n_bytes, decode_ok,
               ROUND(rf1, {ROUND}) AS f1, ROUND(rf5, {ROUND}) AS f5
        FROM (VALUES {values})
             AS t(media_id, kind, n_bytes, decode_ok, rf1, rf5)
    """


def _boruta_decisions_oracle() -> str:
    """Replays the ENTIRE Boruta decision loop in SQL: the md5
    pseudo-importance stream (md5_number_upper = little-endian first 8 md5
    bytes, exactly int.from_bytes(digest[:8], 'little')), per-run hits vs
    max(shadow), the two one-sided exact-binomial tails computed
    term-for-term as functions/stats.py:binom_cdf does
    (exp(lgamma(n+1)-lgamma(x+1)-lgamma(n-x+1)+x·ln½+(n-x)·ln½), clamped),
    Bonferroni over ALL attributes, first-trigger freezing, the early-stop
    run count, and Tentative-kept for survivors."""
    feats = ", ".join(
        f"('{k}', {v!r}::DOUBLE)" for k, v in sorted(_BORUTA_BIAS.items())
    )
    mr = _BORUTA_MAX_RUNS
    n_feats = len(_BORUTA_BIAS)
    pmf = (
        "exp(lgamma(r + 1.0::DOUBLE) - lgamma(x + 1.0::DOUBLE)"
        " - lgamma(r - x + 1.0::DOUBLE)"
        " + x * ln(0.5::DOUBLE) + (r - x) * ln(0.5::DOUBLE))"
    )
    return f"""
        WITH feats(feature, bias) AS (VALUES {feats}),
        runs AS (SELECT UNNEST(generate_series(1, {mr})) AS r),
        imps AS (
          SELECT f.feature, r.r,
                 f.bias + md5_number_upper(f.feature || ':' ||
                   CAST(r.r AS VARCHAR)) / 18446744073709551616.0 AS imp
          FROM feats f, runs r),
        shad AS (
          SELECT r.r,
                 MAX(md5_number_upper('__shadow_' || f.feature || ':' ||
                   CAST(r.r AS VARCHAR)) / 18446744073709551616.0) AS smax
          FROM feats f, runs r GROUP BY r.r),
        cum AS (
          SELECT i.feature, i.r,
                 SUM(CASE WHEN i.imp > s.smax THEN 1 ELSE 0 END)
                   OVER (PARTITION BY i.feature ORDER BY i.r) AS hits
          FROM imps i JOIN shad s USING (r)),
        tails AS (
          SELECT feature, r, hits,
            greatest(0.0::DOUBLE, 1.0 - least(1.0::DOUBLE, coalesce(
              list_sum(list_transform(
                generate_series(0, CAST(hits AS INTEGER) - 1),
                x -> {pmf})), 0.0))) AS sf_conf,
            least(1.0::DOUBLE, coalesce(
              list_sum(list_transform(
                generate_series(0, CAST(hits AS INTEGER)),
                x -> {pmf})), 0.0)) AS cdf_rej
          FROM cum),
        verd AS (
          SELECT feature, r, hits,
            CASE WHEN sf_conf < (0.01::DOUBLE / {n_feats}) THEN 'Confirmed'
                 WHEN cdf_rej < (0.01::DOUBLE / {n_feats}) THEN 'Rejected'
            END AS verdict
          FROM tails),
        firstdec AS (
          SELECT feature, MIN(r) AS dr FROM verd
          WHERE verdict IS NOT NULL GROUP BY feature),
        rstar AS (
          SELECT LEAST({mr}, MAX(COALESCE(fd.dr, {mr} + 1))) AS rs
          FROM feats f LEFT JOIN firstdec fd USING (feature))
        SELECT f.feature,
               CAST(c.hits AS BIGINT) AS hits,
               CAST(rs.rs AS BIGINT) AS runs,
               COALESCE(CASE WHEN fd.dr <= rs.rs THEN v.verdict END,
                        'Tentative') AS decision
        FROM feats f
        CROSS JOIN rstar rs
        JOIN cum c ON c.feature = f.feature AND c.r = rs.rs
        LEFT JOIN firstdec fd ON fd.feature = f.feature
        LEFT JOIN verd v ON v.feature = f.feature AND v.r = fd.dr
    """


_MDL_Y = "CAST(floor(value * 3) AS BIGINT) % 2 = 0"


def _mdl_blocks(feature_expr: str, sfx: str, max_depth: int = 32) -> str:
    """Recursive-CTE Fayyad-Irani MDLP over one numeric feature (class = the
    _MDL_Y predicate), mirroring functions/discretize.py:mdl_cut_points_hist
    term-for-term: per-distinct-value class histogram, prefix sums, per-
    interval argmax of entropy gain over boundaries (ties -> smallest index,
    = np.argmax), the log2(n-1)+delta MDLP acceptance test, midpoint cuts,
    binary recursion to depth 32. Emits CTEs suffixed ``_{sfx}`` ending in
    ``cuts_{sfx}(cut)``."""

    def ent2(a: str, b: str, n: str) -> str:
        # entropy of a 2-class count pair, zero-count classes contribute 0 —
        # the same left-to-right p0*log2(p0) + p1*log2(p1) order as the
        # vectorized numpy kernel (bit-identical given a shared libm log2)
        return (
            f"(0 - (CASE WHEN {a} > 0 THEN ({a}/{n})*log2({a}/{n}) ELSE 0 END)"
            f" - (CASE WHEN {b} > 0 THEN ({b}/{n})*log2({b}/{n}) ELSE 0 END))"
        )

    return f"""
        feat_{sfx} AS (
          SELECT CAST({feature_expr} AS DOUBLE) AS x,
                 CASE WHEN {_MDL_Y} THEN 1 ELSE 0 END AS pos
          FROM events WHERE {feature_expr} IS NOT NULL
        ),
        hist_{sfx} AS (
          SELECT x, SUM(pos)::DOUBLE AS c1, SUM(1-pos)::DOUBLE AS c0
          FROM feat_{sfx} GROUP BY x
        ),
        pre_{sfx} AS (
          SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS idx,
                 SUM(c0) OVER (ORDER BY x) AS p0,
                 SUM(c1) OVER (ORDER BY x) AS p1
          FROM hist_{sfx}
        ),
        bounds_{sfx} AS (SELECT MAX(idx) AS mx FROM pre_{sfx}),
        seg_{sfx}(lo, hi, depth, cut) AS (
          SELECT 1::BIGINT, mx, 0, NULL::DOUBLE FROM bounds_{sfx} WHERE mx >= 2
          UNION ALL
          SELECT CASE side.s WHEN 'L' THEN sp.lo ELSE sp.j + 1 END,
                 CASE side.s WHEN 'L' THEN sp.j ELSE sp.hi END,
                 sp.depth + 1,
                 sp.cutv
          FROM (
            SELECT s.lo, s.hi, s.depth, b.j, b.cutv
            FROM seg_{sfx} s JOIN LATERAL (
              SELECT cand.j, cand.cutv
              FROM (
                SELECT p.idx AS j,
                  (SELECT (pp.x + pn.x)/2 FROM pre_{sfx} pp, pre_{sfx} pn
                   WHERE pp.idx = p.idx AND pn.idx = p.idx + 1) AS cutv,
                  p.p0 - base.b0 AS l0, p.p1 - base.b1 AS l1,
                  tot.t0 - (p.p0 - base.b0) AS r0,
                  tot.t1 - (p.p1 - base.b1) AS r1
                FROM pre_{sfx} p,
                  LATERAL (SELECT
                    COALESCE((SELECT p0 FROM pre_{sfx} WHERE idx = s.lo - 1), 0) AS b0,
                    COALESCE((SELECT p1 FROM pre_{sfx} WHERE idx = s.lo - 1), 0) AS b1) base,
                  LATERAL (SELECT
                    (SELECT p0 FROM pre_{sfx} WHERE idx = s.hi) - base.b0 AS t0,
                    (SELECT p1 FROM pre_{sfx} WHERE idx = s.hi) - base.b1 AS t1) tot
                WHERE p.idx BETWEEN s.lo AND s.hi - 1
              ) cand
              JOIN LATERAL (
                SELECT cand.l0 + cand.l1 AS nl, cand.r0 + cand.r1 AS nr,
                       cand.l0 + cand.l1 + cand.r0 + cand.r1 AS n
              ) sz ON true
              JOIN LATERAL (
                SELECT {ent2('(cand.l0 + cand.r0)', '(cand.l1 + cand.r1)', 'sz.n')} AS ent_total,
                       {ent2('cand.l0', 'cand.l1', 'sz.nl')} AS e_l,
                       {ent2('cand.r0', 'cand.r1', 'sz.nr')} AS e_r
              ) en ON true
              JOIN LATERAL (
                SELECT en.ent_total - (sz.nl * en.e_l + sz.nr * en.e_r) / sz.n AS gain,
                       (CASE WHEN cand.l0 + cand.r0 > 0 THEN 1 ELSE 0 END
                        + CASE WHEN cand.l1 + cand.r1 > 0 THEN 1 ELSE 0 END) AS k_tot,
                       (CASE WHEN cand.l0 > 0 THEN 1 ELSE 0 END
                        + CASE WHEN cand.l1 > 0 THEN 1 ELSE 0 END) AS k_l,
                       (CASE WHEN cand.r0 > 0 THEN 1 ELSE 0 END
                        + CASE WHEN cand.r1 > 0 THEN 1 ELSE 0 END) AS k_r
              ) g ON true
              WHERE sz.n >= 2
                AND g.gain > (log2(sz.n - 1)
                    + (log2(3.0 ** g.k_tot - 2.0)
                       - (g.k_tot * en.ent_total - g.k_l * en.e_l
                          - g.k_r * en.e_r))) / sz.n
              ORDER BY g.gain DESC, cand.j
              LIMIT 1
            ) b ON true
            WHERE s.depth < {max_depth} AND s.hi - s.lo >= 1
          ) sp, (VALUES ('L'), ('R')) side(s)
        ),
        cuts_{sfx} AS (
          SELECT DISTINCT cut FROM seg_{sfx} WHERE cut IS NOT NULL
        )
    """


def _infgain_mdl_oracle() -> str:
    """MDL cuts via recursive CTEs (one per feature), then the same
    natural-log binned info gain as the equal-freq oracle (bin = #cuts <= x,
    _scoring.binned_joint_counts semantics)."""

    def ig_block(x_expr: str, sfx: str) -> str:
        return f"""
        binned_{sfx} AS (
          SELECT (SELECT COUNT(*) FROM cuts_{sfx} c WHERE {x_expr} >= c.cut)
                   AS bin,
                 CASE WHEN {_MDL_Y} THEN 'pos' ELSE 'neg' END AS y
          FROM events
        ),
        joint_{sfx} AS (
          SELECT bin, y, COUNT(*)::DOUBLE AS n FROM binned_{sfx} GROUP BY bin, y
        ),
        ig_{sfx} AS (SELECT {_mutual_info_sql(f"joint_{sfx}", "bin", "y")} AS ig)
        """

    return f"""
        WITH RECURSIVE
        {_mdl_blocks("value", "v")},
        {_mdl_blocks("length(props)", "p")},
        {ig_block("CAST(value AS DOUBLE)", "v")},
        {ig_block("CAST(length(props) AS DOUBLE)", "p")}
        SELECT 'props_len' AS feature,
               ROUND((SELECT ig FROM ig_p), {ROUND}) AS infogain
        UNION ALL
        SELECT 'value', ROUND((SELECT ig FROM ig_v), {ROUND})
        ORDER BY feature
    """


def _shingles_sql(source: str, k: int = 3) -> str:
    """CTEs ``toks_t(doc_id, toks)`` (the non-empty lowercased whitespace
    tokens of ``source``'s text) and ``sh(doc_id, hs)``: the distinct signed
    XXH64 hashes of each doc's word-``k``-shingles, the whole token list as
    one shingle when shorter (dedup.py's shingle sets, via the bit-exact
    functions/xxh64_sql.py port)."""
    from recipeselectors_spark.functions import xxh64_sql as X

    shingle_hash = X.to_signed_sql(X.xxh64_str_sql("sh_str"))

    def xxh_of(expr: str) -> str:
        return X.stage(expr, "sh_str", shingle_hash)

    hs_ge = (
        f"list_distinct([{xxh_of(f'array_to_string(toks[i:i+{k - 1}], chr(32))')}"
        f" FOR i IN generate_series(1, length(toks)-{k - 1})])"
    )
    hs_lt = f"[{xxh_of('array_to_string(toks, chr(32))')}]"
    return f"""
        toks_t AS (
          SELECT doc_id, {_TOKENS_SQL} AS toks FROM {source}
        ),
        sh AS (
          SELECT doc_id,
                 CASE WHEN length(toks) >= {k} THEN {hs_ge} ELSE {hs_lt} END AS hs
          FROM toks_t
        )"""


def _minhash_pipeline_sql(
    source: str,
    num_perm: int = 32,
    bands: int = 8,
    k_shingle: int = 3,
    seed: int = 42,
    threshold: float = 0.8,
    max_bucket: int | None = None,
) -> str:
    """MinHash-LSH near-dup pairs as DuckDB CTE SQL over ``source``
    (a docs relation with doc_id/text) — the FULL operators/dedup.py
    pipeline: word-3-shingles hashed with a bit-exact XXH64 SQL port
    (functions/xxh64_sql.py), the same 32 baked affine permutations mod
    2^31-1, band buckets via the chained xxhash64(concat, band) hash,
    bucket self-join candidates, and the est-Jaccard verify. Yields
    (id_a, id_b, ej). Affine constants are regenerated from the identical
    numpy seed so they can never drift from the Spark side."""
    from recipeselectors_spark.functions import xxh64_sql as X
    from recipeselectors_spark.operators.dedup import MERSENNE_P, _perm_params

    a, b = _perm_params(num_perm, seed)
    perms = ", ".join(
        f"list_min([((abs(h) % {MERSENNE_P}) * {ai} + {bi}) % {MERSENNE_P}"
        f" FOR h IN hs])"
        for ai, bi in zip(a, b)
    )
    rpb = num_perm // bands

    def bucket_expr(bi: int) -> str:
        concat = f"array_to_string(mh[{bi * rpb + 1}:{bi * rpb + rpb}], ',')"
        return X.to_signed_sql(
            X.hash_int_sql(str(bi), X.xxh64_str_sql(concat))
        )

    bstructs = ", ".join(
        f"{{'band': {bi}, 'bucket': {bucket_expr(bi)}}}" for bi in range(bands)
    )
    cap = (
        f"QUALIFY COUNT(*) OVER (PARTITION BY band, bucket) <= {max_bucket}"
        if max_bucket is not None
        else ""
    )
    return f"""
        {_shingles_sql(source, k_shingle)},
        mh AS (SELECT doc_id, [{perms}] AS mh FROM sh),
        banded AS (
          SELECT doc_id, u.band AS band, u.bucket AS bucket FROM (
            SELECT doc_id, unnest([{bstructs}]) AS u FROM mh
          )
          {cap}
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM banded a JOIN banded b USING (band, bucket)
          WHERE a.doc_id < b.doc_id
        ),
        est AS (
          SELECT id_a, id_b,
                 list_sum([CASE WHEN ma.mh[i] = mb.mh[i] THEN 1 ELSE 0 END
                           FOR i IN generate_series(1, {num_perm})])::DOUBLE
                   / {num_perm} AS ej
          FROM cand JOIN mh ma ON ma.doc_id = cand.id_a
                    JOIN mh mb ON mb.doc_id = cand.id_b
        ),
        near_dup_pairs AS (
          SELECT id_a, id_b, ej FROM est WHERE ej >= {threshold}
        )
    """


def _minhash_pairs_oracle() -> str:
    return f"""
        WITH {_minhash_pipeline_sql('documents', threshold=0.8)}
        SELECT id_a, id_b, ROUND(ej, {ROUND}) AS est_jaccard
        FROM near_dup_pairs
    """


def _dedup_corpus_oracle() -> str:
    """Exact-first corpus dedup: md5 keep-first window, MinHash-LSH pairs on
    the representatives (with the 10k bucket cap), drop every id_b."""
    return f"""
        WITH {_UNIQ_DOCS_SQL}
        {_minhash_pipeline_sql('uniq', threshold=0.8, max_bucket=10_000)}
        SELECT doc_id FROM uniq
        WHERE doc_id NOT IN (SELECT id_b FROM near_dup_pairs)
    """


def _carscore_oracle() -> str:
    """Full-matrix CAR scores |R_XX^{-1/2} r_xy| with the Schäfer-Strimmer
    auto-lambda, entirely in SQL: one sufficient-stats pass (the same
    cov/outer(d,d) composition as operators/select_carscore.py), the
    centered-squares pass for Var(r_ij), the shrunk matrix
    (1-lam)R + lam*I, and R^{-1/2} via 60 coupled Newton-Schulz
    iterations in a recursive CTE (Y->B^{1/2}, Z->B^{-1/2} for
    B = A/tr(A)) — robust to repeated eigenvalues, e.g. the full-
    shrinkage lam=1 -> A=I case this data actually hits at sf0.01,
    where spectral interpolation would divide by zero. Converges to
    ~1e-15, two orders below the ROUND=6 comparison."""
    _R = ROUND
    X = ["l_quantity", "l_discount", "l_tax"]; Y = "l_extendedprice"
    cols = X + [Y]
    sums = ["COUNT(*)::DOUBLE AS n"]
    for i, c in enumerate(cols):
        sums.append(f"SUM(CAST({c} AS DOUBLE)) AS s{i}")
        for j in range(i, len(cols)):
            sums.append(f"SUM(CAST({c} AS DOUBLE) * CAST({cols[j]} AS DOUBLE)) AS p{i}{j}")
    mexpr = ", ".join(f"s{i}/n AS m{i}" for i in range(4))
    cov = lambda i, j: f"(p{min(i,j)}{max(i,j)}/n - m{i}*m{j})"
    dexpr = ", ".join(f"sqrt({cov(i,i)}) AS d{i}" for i in range(4))
    # r entries incl. diagonal computed the same way as numpy (cov/(d*d))
    rexpr = ", ".join(
        f"{cov(i,j)}/(d{i}*d{j}) AS r{i}{j}"
        for i in range(4) for j in range(i, 4)
    )
    # second pass: sum_w2 for feature pairs (centered squares), / var_samp
    w2sums = ", ".join(
        f"SUM(pow(CAST({X[i]} AS DOUBLE) - mm.m{i}, 2) * pow(CAST({X[j]} AS DOUBLE) - mm.m{j}, 2)) AS sw{i}{j}"
        for i in range(3) for j in range(i+1, 3)
    )
    vs = lambda i: f"({cov(i,i)} * n / (n - 1))"
    return f"""
WITH RECURSIVE s AS (SELECT {', '.join(sums)} FROM lineitem),
m AS (SELECT *, {mexpr} FROM s),
d AS (SELECT *, {dexpr} FROM m),
r AS (SELECT *, {rexpr} FROM d),
w2raw AS (
  SELECT {w2sums} FROM lineitem, m AS mm
),
lamc AS (
  SELECT r.*,
    -- var_r_ij = n/(n-1)^3 * (sum_w2_ij - n*((n-1)/n*r_ij)^2), sum over i!=j = 2*sum i<j
    (SELECT 2*(
        (r.n/pow(r.n-1,3)) * (w.sw01/({vs(0)}*{vs(1)}) - r.n*pow((r.n-1)/r.n*r.r01,2))
      + (r.n/pow(r.n-1,3)) * (w.sw02/({vs(0)}*{vs(2)}) - r.n*pow((r.n-1)/r.n*r.r02,2))
      + (r.n/pow(r.n-1,3)) * (w.sw12/({vs(1)}*{vs(2)}) - r.n*pow((r.n-1)/r.n*r.r12,2))
    ) / (2*(r.r01*r.r01 + r.r02*r.r02 + r.r12*r.r12))
    FROM w2raw w) AS lam_raw
  FROM r
),
lam AS (SELECT *, LEAST(1.0, GREATEST(0.0, lam_raw)) AS lam FROM lamc),
-- shrunk matrix A = (1-lam)*R + lam*I (diag mirrors numpy r_ii = cov/d^2)
a AS (
  SELECT *,
    (1-lam)*r00 + lam AS a11, (1-lam)*r01 AS a12, (1-lam)*r02 AS a13,
    (1-lam)*r11 + lam AS a22, (1-lam)*r12 AS a23, (1-lam)*r22 + lam AS a33,
    r03 AS ry1, r13 AS ry2, r23 AS ry3
  FROM lam
),
ns(it, y11,y12,y13,y22,y23,y33, z11,z12,z13,z22,z23,z33) AS (
  -- coupled Newton-Schulz: Y->B^(1/2), Z->B^(-1/2) for B = A/tr(A)
  -- (robust to repeated eigenvalues, unlike spectral interpolation)
  SELECT 0, a11/(a11+a22+a33), a12/(a11+a22+a33), a13/(a11+a22+a33),
            a22/(a11+a22+a33), a23/(a11+a22+a33), a33/(a11+a22+a33),
         1.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 1.0::DOUBLE, 0.0::DOUBLE, 1.0::DOUBLE
  FROM a
  UNION ALL
  SELECT it+1,
    (y11*m11 + y12*m12 + y13*m13)/2, (y11*m12 + y12*m22 + y13*m23)/2,
    (y11*m13 + y12*m23 + y13*m33)/2, (y12*m12 + y22*m22 + y23*m23)/2,
    (y12*m13 + y22*m23 + y23*m33)/2, (y13*m13 + y23*m23 + y33*m33)/2,
    (m11*z11 + m12*z12 + m13*z13)/2, (m11*z12 + m12*z22 + m13*z23)/2,
    (m11*z13 + m12*z23 + m13*z33)/2, (m12*z12 + m22*z22 + m23*z23)/2,
    (m12*z13 + m22*z23 + m23*z33)/2, (m13*z13 + m23*z23 + m33*z33)/2
  FROM (
    SELECT *,
      3 - (z11*y11 + z12*y12 + z13*y13) AS m11,
      0 - (z11*y12 + z12*y22 + z13*y23) AS m12,
      0 - (z11*y13 + z12*y23 + z13*y33) AS m13,
      3 - (z12*y12 + z22*y22 + z23*y23) AS m22,
      0 - (z12*y13 + z22*y23 + z23*y33) AS m23,
      3 - (z13*y13 + z23*y23 + z33*y33) AS m33
    FROM ns
  ) WHERE it < 60
),
wmat AS (
  -- A^(-1/2) = Z_60 / sqrt(tr(A)); omega = |A^(-1/2) . r_xy|
  SELECT a.*, ns.z11/sq AS w11, ns.z12/sq AS w12, ns.z13/sq AS w13,
         ns.z22/sq AS w22, ns.z23/sq AS w23, ns.z33/sq AS w33
  FROM a, (SELECT * FROM ns WHERE it = 60) ns,
       (SELECT sqrt(a11+a22+a33) AS sq FROM a)
)
SELECT 'l_discount' AS feature, ROUND(ABS(w12*ry1 + w22*ry2 + w23*ry3), {_R}) AS carscore FROM wmat
UNION ALL
SELECT 'l_quantity', ROUND(ABS(w11*ry1 + w12*ry2 + w13*ry3), {_R}) FROM wmat
UNION ALL
SELECT 'l_tax', ROUND(ABS(w13*ry1 + w23*ry2 + w33*ry3), {_R}) FROM wmat
ORDER BY feature
"""



def _linear_coefs_oracle(iters: int = 30) -> str:
    """Binary-logit MLE via Newton/IRLS in a recursive CTE: z-score the
    features (stddev_samp, NormalizeStep parity), then 30 damped-free Newton
    steps, each one aggregation pass (weighted Hessian + gradient) and a
    Cramer 3x3 solve. Converges to ~1e-15; MLlib L-BFGS at tol=1e-12 lands
    on the same unique optimum (regParam=0, non-separable data)."""
    # Cramer solve of H d = g (3x3 symmetric)
    det = ("(h00*(h11*h22 - h12*h12) - h01*(h01*h22 - h12*h02)"
           " + h02*(h01*h12 - h11*h02))")
    d0 = ("(g0*(h11*h22 - h12*h12) - h01*(g1*h22 - h12*g2)"
          " + h02*(g1*h12 - h11*g2))")
    d1 = ("(h00*(g1*h22 - g2*h12) - g0*(h01*h22 - h02*h12)"
          " + h02*(h01*g2 - g1*h02))")
    d2 = ("(h00*(h11*g2 - h12*g1) - h01*(h01*g2 - h02*g1)"
          " + g0*(h01*h12 - h11*h02))")
    _R = ROUND
    return f"""
WITH RECURSIVE feat AS (
  SELECT CAST(value AS DOUBLE) AS v,
         CAST(length(props) AS DOUBLE) AS p,
         CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS yy
  FROM events
),
nrm AS (
  SELECT AVG(v) AS mv, STDDEV_SAMP(v) AS sv,
         AVG(p) AS mp, STDDEV_SAMP(p) AS sp
  FROM feat
),
z AS (SELECT (v - mv)/sv AS x1, (p - mp)/sp AS x2, yy FROM feat, nrm),
irls(it, b0, b1, b2) AS (
  SELECT 0, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE
  UNION ALL
  SELECT it + 1,
         b0 + {d0}/{det}, b1 + {d1}/{det}, b2 + {d2}/{det}
  FROM (
    SELECT i.it, i.b0, i.b1, i.b2, s.*
    FROM irls i JOIN LATERAL (
      SELECT SUM(pr*(1-pr)) AS h00, SUM(pr*(1-pr)*x1) AS h01,
             SUM(pr*(1-pr)*x2) AS h02, SUM(pr*(1-pr)*x1*x1) AS h11,
             SUM(pr*(1-pr)*x1*x2) AS h12, SUM(pr*(1-pr)*x2*x2) AS h22,
             SUM(yy - pr) AS g0, SUM((yy - pr)*x1) AS g1,
             SUM((yy - pr)*x2) AS g2
      FROM (SELECT x1, x2, yy,
                   1/(1 + exp(-(i.b0 + i.b1*x1 + i.b2*x2))) AS pr
            FROM z)
    ) s ON true
    WHERE i.it < {iters}
  )
)
SELECT 'props_len' AS feature, ROUND(ABS(b2), {_R}) AS abs_coef
FROM irls WHERE it = {iters}
UNION ALL
SELECT 'value', ROUND(ABS(b1), {_R}) FROM irls WHERE it = {iters}
ORDER BY feature
"""



def _ivf_ann_oracle() -> str:
    """IVF-lite ANN, fully data-driven (no baked constants): the centroid
    sample ordering is md5(str(vec_id)) — computable in DuckDB — and
    kmeans_iters=0 means centroids ARE the first 8 sample vectors, so the
    oracle recomputes centroids, max-dot cell assignment (struct-max tie
    order identical to Spark's reverse(array_sort)), nprobe probing, and
    the top-k rescore from the table itself at any scale factor."""
    cos = _COS.format(a="a.emb", b="p.q_emb")
    return f"""
        WITH e AS ({_EMB_SQL}),
        corpus AS (SELECT * FROM e WHERE vec_id >= 10),
        qry AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 3),
        cent_rows AS (
          SELECT emb,
                 ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                    vec_id) - 1 AS cell
          FROM corpus QUALIFY cell < 8
        ),
        cents AS (
          SELECT list({{'cell': cell, 'c': emb}} ORDER BY cell) AS cl
          FROM cent_rows
        ),
        assigned AS (
          SELECT c.vec_id, c.emb,
                 list_aggregate([{{'dot': list_dot_product(c.emb, x.c),
                                   'cell': x.cell}} FOR x IN cl],
                                'max').cell AS cell
          FROM corpus c, cents
        ),
        probes AS (
          SELECT q_id, q_emb, unnest(cells) AS cell FROM (
            SELECT q_id, q_emb,
                   [x.cell FOR x IN list_reverse(list_sort(
                      [{{'dot': list_dot_product(q_emb, x.c),
                         'cell': x.cell}} FOR x IN cl]))[1:4]] AS cells
            FROM qry, cents
          )
        ),
        scored AS (
          SELECT p.q_id, a.vec_id, {cos} AS cosine
          FROM assigned a JOIN probes p USING (cell)
        ),{_COSINE_TOP5_SQL}"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "lag_lead": q_lag_lead,
        "ffill": q_ffill,
        "bfill": q_bfill,
        "rolling_time": q_rolling_time,
        "sessionize": q_sessionize,
        "rolling_mean": q_rolling_mean,
        "rollup": q_rollup,
        "topk_per_user": q_topk_per_user,
        "dedup_turns": q_dedup_turns,
        "semi_join": q_semi_join,
        "json_extract": q_json_extract,
        "asof_union": q_asof_union,
        "asof_cogroup": q_asof_cogroup,
        "asof_forward": partial(q_asof_cogroup, direction="forward"),
        "asof_nearest": partial(q_asof_cogroup, direction="nearest"),
        "roc_auc": q_roc_auc,
        "infgain_equalfreq": q_infgain_equalfreq,
        "chi2_stat": q_chi2_stat,
        "dedup_exact": q_dedup_exact,
        "token_counts": q_token_counts,
        "text_quality": q_text_quality,
        "cosine_topk": q_cosine_topk,
        "mrmr_scores": q_mrmr_scores,
        "linear_reg_coefs": q_linear_reg_coefs,
        "assemble_features": q_assemble_features,
        "lsh_ann": q_lsh_ann,
        "embedding_dedup": q_embedding_dedup,
        "doc_quality": q_doc_quality,
        "ngram_jaccard": q_ngram_jaccard,
        "ivf_ann": q_ivf_ann,
        "simhash": q_simhash,
        "fingerprint": q_fingerprint,
        "tree_importance": q_tree_importance,
        "pii_scrub": q_pii_scrub,
        "token_topk": q_token_topk,
        "dedup_clusters": q_dedup_clusters,
        "vip_tree": q_vip_tree,
        "det_sample": q_det_sample,
        "split_hash": q_split_hash,
        "decontaminate": q_decontaminate,
        "minhash_pairs": q_minhash_pairs,
        "dedup_corpus": q_dedup_corpus,
        "infgain_mdl": q_infgain_mdl,
        "infgain_mdl_gated": q_infgain_mdl_gated,
        "carscore": q_carscore,
        "linear_coefs": q_linear_coefs,
        "media_features": q_media_features,
        # real MLlib fits made RNG-free (RF exact stump / GBT boosting
        # recurrence / deterministic importance stream) — full SQL oracles
        "forest_importance": q_forest_importance,
        "vip_importance": q_vip_importance,
        "boruta_decisions": q_boruta_decisions,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "lag_lead": """
            SELECT user_id, event_id,
                   LAG(value) OVER w AS v_lag1,
                   LEAD(value) OVER w AS v_lead1
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "ffill": """
            SELECT user_id, event_id,
                   LAST_VALUE(CASE WHEN event_type='purchase' THEN value END
                     IGNORE NULLS) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS purchase_ffill
            FROM events
        """,
        "sessionize": f"""
            WITH g AS (
              SELECT user_id, ts, value,
                     CASE WHEN epoch(ts) - LAG(epoch(ts)) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id) > 3600
                       OR LAG(ts) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                       THEN 1 ELSE 0 END AS new_sess,
                     event_id
              FROM events
            ),
            s AS (
              SELECT user_id, value,
                     CAST(SUM(new_sess) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
                       AS bigint) AS session_id
              FROM g
            )
            SELECT user_id, session_id, COUNT(*) AS n_events,
                   ROUND(SUM(value), {ROUND}) AS sum_value
            FROM s GROUP BY user_id, session_id
        """,
        "rolling_mean": f"""
            SELECT user_id, event_id,
                   ROUND(AVG(value) OVER (PARTITION BY user_id
                     ORDER BY ts, event_id
                     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), {ROUND})
                     AS roll_mean5
            FROM events
        """,
        "rollup": f"""
            SELECT user_id, COUNT(*) AS n_events,
                   COUNT(DISTINCT event_type) AS n_types,
                   ROUND(AVG(length(props)), {ROUND}) AS avg_props_len,
                   CAST(SUM(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END)
                     AS bigint) AS n_purchases,
                   MIN(ts) AS first_ts, MAX(ts) AS last_ts
            FROM events GROUP BY user_id
        """,
        "topk_per_user": """
            SELECT user_id, event_id, value, rn FROM (
              SELECT user_id, event_id, value,
                     ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY value DESC, event_id ASC) AS rn
              FROM events
            ) WHERE rn <= 3
        """,
        "dedup_turns": """
            SELECT user_id, minute, event_id FROM (
              SELECT user_id, date_trunc('minute', ts) AS minute, event_id,
                     ROW_NUMBER() OVER (PARTITION BY user_id,
                       date_trunc('minute', ts) ORDER BY ts, event_id) AS rn
              FROM events
            ) WHERE rn = 1
        """,
        "bfill": """
            SELECT user_id, event_id,
                   FIRST_VALUE(CASE WHEN event_type='purchase' THEN value END
                     IGNORE NULLS) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                     AS purchase_bfill
            FROM events
        """,
        "rolling_time": f"""
            SELECT user_id, event_id,
                   COUNT(*) OVER w AS n_10min,
                   ROUND(SUM(value) OVER w, {ROUND}) AS sum_10min
            FROM events
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                         RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
        """,
        "semi_join": _SEMI_ORACLE,
        "json_extract": _JSON_ORACLE,
        "asof_union": _asof_oracle("backward", tolerance_s=600),
        "asof_cogroup": _asof_oracle("backward"),
        "asof_forward": _asof_oracle("forward"),
        "asof_nearest": _asof_oracle("nearest"),
        "roc_auc": _ROC_ORACLE,
        "infgain_equalfreq": _INFGAIN_ORACLE,
        "chi2_stat": _CHI2_ORACLE,
        "dedup_exact": f"""
            WITH {_UNIQ_DOCS_SQL}
            agg AS (
              SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_doc_id,
                     COUNT(*) AS n_copies
              FROM documents GROUP BY md5(text)
            ),
            kept AS (
              SELECT md5(text) AS text_hash, doc_id AS kept_doc_id FROM uniq
            )
            SELECT text_hash, keep_doc_id, n_copies, kept_doc_id
            FROM agg JOIN kept USING (text_hash)
        """,
        "token_counts": f"""
            WITH t AS (
              SELECT doc_id, text,
                     regexp_split_to_array(trim(text), '\\s+') AS rtoks
              FROM documents
            ),
            c AS (
              SELECT doc_id,
                [array_to_string(
                   rtoks[s + 1 : s + {_CHUNK_TOKENS}], ' ')
                 FOR s IN generate_series(0,
                   greatest(length(rtoks) - {_CHUNK_OVERLAP} - 1, 0),
                   {_CHUNK_TOKENS - _CHUNK_OVERLAP})] AS chunks
              FROM t
            )
            SELECT doc_id, length(string_split(text, ' ')) AS n_tokens,
                   length(text) AS n_chars_computed,
                   length(regexp_extract_all(text,
                     '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_tokens,
                   length(chunks) AS n_chunks,
                   md5(array_to_string(chunks, '|')) AS chunks_md5
            FROM t JOIN c USING (doc_id)
        """,
        "text_quality": f"""
            -- scalar quality features + a full BM25 recompute (inverted
            -- index, df, N/avgdl, Lucene idf) for the fixed query
            -- {_BM25_QUERY!r}; dl/N/df are exact integers and
            -- avgdl = sum(int)/count is exact in double, so both engines
            -- compute identical scores term-by-term.
            WITH t AS (
              SELECT doc_id, string_split(text, ' ') AS toks, length(text) AS nc
              FROM documents
            ),
            tok AS (
              SELECT doc_id,
                     unnest({_TOKENS_SQL}) AS term
              FROM documents
            ),
            post AS (
              SELECT doc_id, term, COUNT(*)::BIGINT AS tf
              FROM tok GROUP BY 1, 2
            ),
            dl AS (SELECT doc_id, SUM(tf)::BIGINT AS dl FROM post GROUP BY 1),
            stats AS (
              SELECT COUNT(*)::BIGINT AS n, AVG(dl) AS avgdl FROM dl
            ),
            dfreq AS (
              SELECT term, COUNT(*)::BIGINT AS df FROM post
              WHERE term IN ({", ".join(f"'{t}'" for t in sorted(set(_BM25_QUERY.lower().split())))})
              GROUP BY 1
            ),
            scored AS (
              SELECT p.doc_id,
                     SUM(ln(1.0::DOUBLE + (s.n - d.df + 0.5::DOUBLE)
                              / (d.df + 0.5::DOUBLE))
                         * (p.tf * 2.2::DOUBLE)
                         / (p.tf + 1.2::DOUBLE * (0.25::DOUBLE
                              + 0.75::DOUBLE * l.dl / s.avgdl))) AS bm25
              FROM post p
              JOIN dfreq d USING (term)
              JOIN dl l USING (doc_id)
              CROSS JOIN stats s
              GROUP BY 1
            )
            SELECT t.doc_id,
                   ROUND(length(list_filter(toks, t -> t='the' OR t='a'))::double
                     / length(toks), {ROUND}) AS stopword_ratio,
                   ROUND((nc - length(toks) + 1)::double / length(toks),
                     {ROUND}) AS avg_word_len,
                   ROUND(COALESCE(sc.bm25, 0.0::DOUBLE), {ROUND}) AS bm25_fixed
            FROM t LEFT JOIN scored sc ON t.doc_id = sc.doc_id
        """,
        "cosine_topk": _COSINE_ORACLE,
        "mrmr_scores": _MRMR_ORACLE,
        "assemble_features": f"""
            -- events -> transcript mapping (events_as_transcripts) followed
            -- by the full assembly: lag features, truncated-epoch deltas,
            -- 5-row rolling mean, gap-sessionization, tool forward-fill.
            WITH tx AS (
              SELECT 'conv-' || CAST(user_id AS varchar) AS conv_id,
                     ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) - 1 AS turn_idx,
                     event_type AS role,
                     props AS text,
                     CASE WHEN event_type='click' THEN 'browser' END AS tool,
                     ts,
                     CAST(floor(epoch(ts)) AS BIGINT) AS es
              FROM events
            ),
            f AS (
              SELECT conv_id, turn_idx, ts, role,
                     CAST(length(text) AS double) AS f_text_len,
                     es - LAG(es) OVER w AS gap,
                     LAG(CAST(length(text) AS double), 1) OVER w AS f_lag1_len,
                     LAG(CAST(length(text) AS double), 2) OVER w AS f_lag2_len,
                     AVG(CAST(length(text) AS double)) OVER
                       (PARTITION BY conv_id ORDER BY ts, turn_idx
                        ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
                       AS roll_mean,
                     ROW_NUMBER() OVER w AS rn,
                     LAST_VALUE(tool IGNORE NULLS) OVER
                       (PARTITION BY conv_id ORDER BY ts, turn_idx
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS tool_seen
              FROM tx
              WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
            ),
            g AS (
              SELECT *, CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END
                          AS new_sess
              FROM f
            ),
            h AS (
              SELECT *,
                     MAX(CASE WHEN new_sess=1 THEN rn END) OVER
                       (PARTITION BY conv_id ORDER BY ts, turn_idx
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS sess_start
              FROM g
            )
            SELECT conv_id, turn_idx, ts,
                   f_text_len, f_lag1_len, f_lag2_len,
                   CAST(gap AS double) AS f_delta_ts,
                   ROUND(roll_mean, {ROUND}) AS f_roll_mean_len,
                   CAST(rn - sess_start AS double) AS f_sess_turn,
                   CASE WHEN tool_seen IS NOT NULL THEN 1.0 ELSE 0.0 END
                     AS f_tool_seen,
                   CASE WHEN role='assistant' THEN 1.0 ELSE 0.0 END
                     AS f_is_assistant,
                   CAST(rn - 1 AS double) AS f_turn_in_conv,
                   role
            FROM h
        """,
        "doc_quality": f"""
            WITH t AS (
              SELECT doc_id, text,
                     regexp_split_to_array(trim(text), '\\s+') AS toks,
                     {_WORDS_SQL} AS ltoks
              FROM documents
            ),
            m AS (
              SELECT doc_id,
                     length(toks) AS n_tok,
                     length(text) AS n_chars,
                     length(text) - length(regexp_replace(text,
                       '[^\\w\\s]', '', 'g')) AS n_punct,
                     length(regexp_replace(trim(text), '\\s+', '', 'g'))
                       AS n_nonspace,
                     length(list_filter(ltoks, t -> list_contains(
                       ['the','a','and','of','to','in','is','it','that','for'],
                       t))) AS stop_hits,
                     -- RAW (unrounded) repetition ratios for the rule
                     -- thresholds: the reported rep_* columns are rounded,
                     -- and a boundary value must compare like Spark's raw
                     1.0 - length(list_distinct(ltoks))
                         / greatest(length(ltoks), 1) AS uni_raw,
                     1.0 - CASE WHEN length(ltoks) >= 2
                         THEN length(list_distinct({_ngrams_sql("ltoks", 2)}))
                              / greatest(length(ltoks) - 1, 1)
                         ELSE length(list_distinct(ltoks))
                              / greatest(length(ltoks), 1) END AS bi_raw
              FROM t
            ),
            flags AS (
              SELECT m.doc_id,
                list_filter([
                  CASE WHEN n_tok < 50 THEN 'too_few_tokens' END,
                  CASE WHEN n_tok > 100000 THEN 'too_many_tokens' END,
                  CASE WHEN n_punct / greatest(n_chars, 1) > 0.20
                       THEN 'punct_ratio' END,
                  CASE WHEN stop_hits / greatest(n_tok, 1) < 0.02
                       THEN 'stopword_ratio' END,
                  CASE WHEN uni_raw > 0.40 THEN 'rep_unigram' END,
                  CASE WHEN bi_raw > 0.30 THEN 'rep_bigram' END,
                  CASE WHEN n_nonspace / greatest(n_tok, 1) < 2.0
                       THEN 'mean_word_len_low' END,
                  CASE WHEN n_nonspace / greatest(n_tok, 1) > 12.0
                       THEN 'mean_word_len_high' END,
                  CASE WHEN lg.lang_pred != 'en' THEN 'language' END
                ], x -> x IS NOT NULL) AS reasons
              FROM m JOIN ({_langid_oracle()}) lg USING (doc_id)
            ),
            -- unigram-LM refit (operators/lm_quality.py, alpha=1,
            -- top_v={LM_TOP_V}): p(t) = (c+1)/(N+V+1) over the kept
            -- vocabulary, OOV bucket 1/(N+V+1); score = mean log2 p
            lmtok AS (
              SELECT doc_id, unnest(ltoks) AS tok FROM t
            ),
            lmtok2 AS (SELECT doc_id, tok FROM lmtok WHERE tok != ''),
            lmkept AS (
              SELECT tok, COUNT(*) AS c FROM lmtok2 GROUP BY tok
              ORDER BY c DESC, tok LIMIT {LM_TOP_V}
            ),
            lmconst AS (
              SELECT SUM(c)::DOUBLE + COUNT(*)::DOUBLE + 1.0 AS denom
              FROM lmkept
            ),
            lmscore AS (
              SELECT doc_id,
                     AVG(COALESCE(
                       log2((k.c + 1.0) / (SELECT denom FROM lmconst)),
                       log2(1.0 / (SELECT denom FROM lmconst)))) AS lm
              FROM lmtok2 LEFT JOIN lmkept k USING (tok)
              GROUP BY doc_id
            )
            SELECT doc_id, rr.rep_unigram, rr.rep_bigram, lg.lang_pred,
              ROUND(
              (CASE WHEN n_tok >= 5 AND n_tok <= 100000 THEN 1.0 ELSE 0.0 END)
                * 0.25
              + (CASE WHEN n_chars / greatest(n_tok, 1) >= 2
                       AND n_chars / greatest(n_tok, 1) <= 12
                  THEN 1.0 ELSE 0.0 END) * 0.25
              + (CASE WHEN n_punct / greatest(n_chars, 1) < 0.3
                  THEN 1.0 ELSE 0.0 END) * 0.25
              + (CASE WHEN stop_hits / greatest(n_tok, 1) > 0.005
                  THEN 1.0 ELSE 0.0 END) * 0.25,
              {ROUND}) AS quality,
              length(fl.reasons) = 0 AS kept,
              array_to_string(fl.reasons, ',') AS drop_reasons_str,
              ROUND(COALESCE(ls.lm,
                log2(1.0 / (SELECT denom FROM lmconst))), {ROUND}) AS lm_score
            FROM m
            JOIN ({_REPETITION_ORACLE}) rr USING (doc_id)
            JOIN ({_langid_oracle()}) lg USING (doc_id)
            JOIN flags fl ON fl.doc_id = m.doc_id
            LEFT JOIN lmscore ls ON ls.doc_id = m.doc_id
        """,
        "ngram_jaccard": f"""
            WITH sh AS (
              SELECT doc_id,
                CASE WHEN length(toks) >= 3
                  THEN list_distinct({_ngrams_sql("toks", 3)})
                ELSE [array_to_string(toks, ' ')] END AS s
              FROM (
                SELECT doc_id, {_WORDS_SQL} AS toks
                FROM documents WHERE doc_id < 25
              )
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   ROUND(length(list_intersect(a.s, b.s))
                     / length(list_distinct(a.s || b.s)), {ROUND}) AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        """,
        "embedding_dedup": _embedding_dedup_oracle(),
        "lsh_ann": _lsh_ann_oracle(),
        "ivf_ann": _ivf_ann_oracle(),
        "simhash": _simhash_oracle(),
        "fingerprint": _fingerprint_spans_oracle(),
        "tree_importance": _TREE_ORACLE,
        "pii_scrub": _pii_scrub_oracle(),
        "token_topk": _TOKEN_TOPK_ORACLE,
        "dedup_clusters": _dedup_clusters_oracle(),
        "vip_tree": _TREE_ORACLE,
        "det_sample": _det_sample_oracle(),
        "split_hash": _split_hash_oracle(),
        "decontaminate": _decontaminate_oracle(),
        "minhash_pairs": _minhash_pairs_oracle(),
        "dedup_corpus": _dedup_corpus_oracle(),
        "infgain_mdl": _infgain_mdl_oracle(),
        "infgain_mdl_gated": _infgain_mdl_oracle(),
        "carscore": f"""
            SELECT fm.feature, fm.carscore, dg.carscore_diag
            FROM ({_carscore_oracle()}) fm
            JOIN (
              SELECT 'l_discount' AS feature,
                     ROUND(ABS(corr(l_discount, l_extendedprice)), {ROUND})
                       AS carscore_diag
              FROM lineitem
              UNION ALL
              SELECT 'l_quantity',
                     ROUND(ABS(corr(l_quantity, l_extendedprice)), {ROUND})
              FROM lineitem
              UNION ALL
              SELECT 'l_tax',
                     ROUND(ABS(corr(l_tax, l_extendedprice)), {ROUND})
              FROM lineitem
            ) dg USING (feature)
            ORDER BY fm.feature
        """,
        "linear_coefs": _linear_coefs_oracle(),
        "media_features": _media_features_oracle(),
        "boruta_decisions": _boruta_decisions_oracle(),
        "forest_importance": _forest_perm_oracle(),
        "vip_importance": _vip_gbt_oracle(),
        "linear_reg_coefs": f"""
            -- OLS with intercept on 2 predictors: closed-form normal
            -- equations over (co)variances (MLlib regParam=0 solves the
            -- same system exactly via the 'normal' solver)
            WITH s AS (
              SELECT covar_samp(l_quantity, l_extendedprice) AS c1y,
                     covar_samp(l_discount, l_extendedprice) AS c2y,
                     covar_samp(l_quantity, l_discount) AS c12,
                     var_samp(l_quantity) AS v1,
                     var_samp(l_discount) AS v2
              FROM lineitem
            )
            SELECT 'l_discount' AS feature,
                   {_sig_round_sql("ABS((c2y*v1 - c1y*c12) / (v1*v2 - c12*c12))")}
                     AS abs_coef
            FROM s
            UNION ALL
            SELECT 'l_quantity',
                   {_sig_round_sql("ABS((c1y*v2 - c2y*c12) / (v1*v2 - c12*c12))")}
            FROM s
            ORDER BY feature
        """,
    }
