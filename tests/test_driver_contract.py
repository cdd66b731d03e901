"""The driver contract of ``__spark_entry__``: the query names, their order
and cap, one oracle per query, and the stump tie rule its tree replays
share with MLlib."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

import __spark_entry__ as entrymod

# the driver checks the first 50 queries by insertion order
QUERY_NAMES = [
    "lag_lead", "ffill", "bfill", "rolling_time", "sessionize",
    "rolling_mean", "rollup", "topk_per_user", "dedup_turns", "semi_join",
    "json_extract", "asof_union", "asof_cogroup", "asof_forward",
    "asof_nearest", "roc_auc", "infgain_equalfreq", "chi2_stat",
    "dedup_exact", "token_counts", "text_quality", "cosine_topk",
    "mrmr_scores", "linear_reg_coefs", "assemble_features", "lsh_ann",
    "embedding_dedup", "doc_quality", "ngram_jaccard", "ivf_ann", "simhash",
    "fingerprint", "tree_importance", "pii_scrub", "token_topk",
    "dedup_clusters", "vip_tree", "det_sample", "split_hash",
    "decontaminate", "minhash_pairs", "dedup_corpus", "infgain_mdl",
    "infgain_mdl_gated", "carscore", "linear_coefs", "media_features",
    "forest_importance", "vip_importance", "boruta_decisions",
]


def test_query_names_and_order():
    qs = entrymod.queries()
    assert len(qs) <= 50
    assert list(qs) == QUERY_NAMES


def test_every_query_has_an_oracle():
    assert set(entrymod.queries()) == set(entrymod.oracle_sql())


def test_tree_tie_goes_to_lowest_feature_index(spark):
    """l_discount equals l_quantity row for row, so both tie exactly on
    every split's gain: MLlib keeps the first feature (index 0), and so
    must the SQL replay. The target is integer-valued so every sum is exact
    in double and the tie is bit for bit in DuckDB too, whatever order its
    aggregates add in."""
    from recipeselectors_spark.operators import TreeStep

    rng = np.random.default_rng(5)
    q = rng.integers(1, 30, size=200).astype(float)
    pdf = pd.DataFrame({
        "l_quantity": q,
        "l_discount": q,
        "l_extendedprice": q * 90.0 + rng.integers(-40, 40, size=200),
    })
    fitted = TreeStep(
        "l_extendedprice", terms=["l_quantity", "l_discount"], top_p=1,
        tree_depth=1, max_bins=1000,
    ).prep(spark.createDataFrame(pdf))
    assert fitted.scores == {"l_quantity": 100.0, "l_discount": 0.0}

    con = duckdb.connect()
    con.register("lineitem_pdf", pdf)
    con.execute("CREATE VIEW lineitem AS SELECT * FROM lineitem_pdf")
    got = dict(con.execute(entrymod.oracle_sql()["tree_importance"]).fetchall())
    assert got == {"l_quantity": 100.0, "l_discount": 0.0}
