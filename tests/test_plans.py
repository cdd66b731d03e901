"""Physical-plan regression tests: pushdown, pruning, exchange counts.

These pin the scale properties the engine is designed around — a filter
that stops reaching the parquet scan or a projection that stops pruning
columns is invisible at sandbox row counts but dominates at 100 TB.
"""

import re

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF_DIR}/events.parquet")


def test_filter_pushdown_reaches_parquet(spark, events):
    q = events.where(F.col("event_type") == "purchase").select("user_id", "value")
    plan = _plan(q)
    assert "PushedFilters: [" in plan
    assert "event_type" in plan.split("PushedFilters:")[1].split("]")[0]


def test_column_pruning_reaches_parquet(spark, events):
    q = events.select("user_id", "value")
    m = re.search(r"ReadSchema: struct<([^>]*)>", _plan(q))
    assert m, "no ReadSchema in scan"
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"user_id", "value"}  # props/ts/event_id pruned


def _nodes(plan: str, op: str) -> int:
    """Physical ``op`` nodes in ``plan`` (``Window`` excludes
    ``WindowGroupLimit``, ``Sort`` excludes ``SortMergeJoin``)."""
    return len(re.findall(rf"(?<![A-Za-z]){op} \[", plan))


def test_assembly_single_exchange(spark):
    """The whole feature matrix rides ONE conv_id exchange."""
    from recipeselectors_spark.operators import assembly
    from recipeselectors_spark.sources import transcripts as T

    tx = T.events_as_transcripts(spark, SF_DIR).drop("value")
    plan = _plan(assembly.assemble_features(tx))
    # events_as_transcripts itself needs one user_id exchange for turn_idx;
    # the assembly adds exactly one conv_id exchange (conv_id is a function
    # of user_id, but turn_idx's row_number re-keys)
    assert plan.count("Exchange hashpartitioning") == 2
    assert "SinglePartition" not in plan
    # one sort per order: (user_id; ts, event_id), dedup_turns' (turn_idx,
    # ts) and the features' (ts, turn_idx)
    assert _nodes(plan, "Sort") == 3
    assert _nodes(plan, "Window") <= 6
    # the lag helper's lead columns are pruned; the ts lag runs once: one
    # lag per lag feature, one for the gap, one for dedup_turns
    assert "lead(" not in plan
    assert plan.count("lag(") <= 4


def test_asof_union_plan_shape(spark):
    """Two spine/feature group-bys and ONE window exchange; the carry is one
    Window over one Sort."""
    import __spark_entry__ as em

    plan = _plan(em.q_asof_union(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 3
    assert _nodes(plan, "Window") == 1
    assert _nodes(plan, "Sort") == 1


def test_dedup_turns_single_exchange(spark):
    import __spark_entry__ as em

    plan = _plan(em.q_dedup_turns(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1


def test_melted_scoring_single_exchange(spark, events):
    """Selection-step scoring: melt -> ONE groupBy exchange with partial
    aggregation (map-side combine) before it."""
    from recipeselectors_spark.operators import _scoring

    df = events.select(
        F.col("value").cast("double").alias("value"),
        F.length("props").cast("double").alias("props_len"),
        F.when(F.col("event_type") == "purchase", "pos").otherwise("neg").alias("y"),
    )
    counts = _scoring.cell_counts(
        df, _scoring.typed(["value", "props_len"], "double"), "y"
    )
    plan = _plan(counts)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_count" in plan  # map-side combine present


def test_exact_dedup_single_exchange(spark):
    from recipeselectors_spark.operators import dedup as D

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(D.dedup_exact(docs))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_" in plan  # map-side combine on the hash groupBy


def test_drop_exact_duplicates_single_exchange(spark):
    """Keep-first exact dedup: one md5 window exchange, no join back."""
    from recipeselectors_spark.operators import dedup as D

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(D.drop_exact_duplicates(docs))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_ivf_sample_is_top_n_not_global_sort(spark):
    """The content-deterministic IVF sample (orderBy(md5(id)).limit(n)) must
    compile to TakeOrderedAndProject — per-partition top-n + driver merge —
    not a rangepartitioning exchange + global sort. At 100 TB the latter
    shuffles the whole corpus to pick 2048 vectors."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = (
        emb.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(2048)
    )
    plan = _plan(q)
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_mrmr_pairwise_single_exchange(spark, events):
    """The all-pairs MI pass: pair explosion -> ONE map-side-combined
    groupBy exchange, no SinglePartition, regardless of p."""
    from recipeselectors_spark.operators.select_mrmr import MrmrStep

    df = events.select(
        F.col("value").alias("f1"),
        F.length("props").cast("double").alias("f2"),
        (F.col("value") % 7).alias("f3"),
        F.when(F.col("event_type") == "purchase", "pos").otherwise("neg").alias("y"),
    )
    names = ["f1", "f2", "f3"]
    codes = MrmrStep("y", terms=names, top_p=2, bins=4)._codes_frame(df, names)
    arr = F.array(*[F.col(c) for c in names])
    pairs = (
        codes.select(F.posexplode(arr).alias("i", "va"), arr.alias("__arr__"))
        .select("i", "va", F.posexplode("__arr__").alias("j", "vb"))
        .where(F.col("i") < F.col("j"))
    )
    plan = _plan(pairs.groupBy("i", "va", "j", "vb").count())
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SinglePartition" not in plan
    assert "partial_count" in plan


@pytest.mark.parametrize("max_postings", [10_000, None])
def test_repeated_span_pairs_reuses_its_postings_exchange(spark, max_postings):
    """The posting-list self-join reads ONE fingerprint exchange: the
    second join side is a ReusedExchange, so the winnow UDF runs once,
    not once per join side — with and without the stop-fingerprint cap."""
    from recipeselectors_spark.operators import dedup as D

    span = ("this exact boilerplate legal disclaimer paragraph appears "
            "verbatim in many scraped pages and should be detected as a "
            "repeated span across documents")
    df = spark.createDataFrame(
        [("a", "unique preamble about astronomy. " + span + " tail A."),
         ("b", "intro concerning cooking recipes! " + span + " ending B."),
         ("c", "no shared content here at all, just words about hiking.")],
        "doc_id string, text string",
    )
    q = D.repeated_span_pairs(df, min_shared=2, max_postings=max_postings)
    assert [(r["id_a"], r["id_b"]) for r in q.collect()] == [("a", "b")]
    # after the action the plan is AQE's final plan, then the initial one
    final = _plan(q).split("== Initial Plan ==")[0]
    assert "ReusedExchange" in final
    assert final.count("ArrowEvalPython") == 1
