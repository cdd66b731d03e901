"""The benchmark workloads.

Each workload owns its seed-generated inputs and knows how to run one full
pass over them, how to build the reference a pass is checked against, and
how to check a pass's output. A pass ends with a materialised result; the
check runs after the pass, outside its timed interval.

``SIZES`` holds the input sizes of every workload and part; ``tiny`` is
used by the self-check.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil

import numpy as np
import pandas as pd

SIZES = {
    "full": {
        "assemble": {"n_convs": 300, "mean_turns": 20, "hot_factor": 150},
        "select_models": {"n_train": 4000, "n_holdout": 1000, "trees": 3,
                          "max_runs": 1},
        "corpus": {"n_base": 150},
    },
    "tiny": {
        "assemble": {"n_convs": 200, "mean_turns": 10, "hot_factor": 100},
        "select_models": {"n_train": 2000, "n_holdout": 500, "trees": 3,
                          "max_runs": 1},
        "corpus": {"n_base": 60},
    },
}


def _digest(*parts) -> str:
    h = hashlib.sha256()
    for p in parts:
        if isinstance(p, pd.DataFrame):
            h.update(pd.util.hash_pandas_object(p, index=False).values.tobytes())
        else:
            h.update(repr(p).encode())
    return h.hexdigest()[:16]


def _close(got: float, want: float, rtol: float = 1e-6) -> bool:
    if math.isnan(got) or math.isnan(want):
        return math.isnan(got) and math.isnan(want)
    return abs(got - want) <= rtol * max(1.0, abs(want))


def _frames_equal(got: pd.DataFrame, want: pd.DataFrame, keys: list[str]) -> bool:
    cols = list(want.columns)
    if sorted(got.columns) != sorted(cols) or len(got) != len(want):
        return False
    g = got[cols].sort_values(keys, kind="mergesort").reset_index(drop=True)
    w = want[cols].sort_values(keys, kind="mergesort").reset_index(drop=True)
    for c in cols:
        a, b = g[c], w[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            av, bv = a.to_numpy(dtype=float), b.to_numpy(dtype=float)
            if not np.allclose(av, bv, rtol=1e-9, atol=1e-9, equal_nan=True):
                return False
        elif not a.astype(object).where(a.notna(), None).equals(
            b.astype(object).where(b.notna(), None)
        ):
            return False
    return True


class Workload:
    """Interface of a workload; see the module docstring."""

    name = ""
    row_unit = ""
    #: warm pass wall time on a 4-core host; sizes the pass count of a run
    nominal_pass_s = 0.0

    def __init__(self, spark, seed: int, size: str, work_dir: str):
        self.spark = spark
        self.seed = seed
        self.size = SIZES[size].get(self.name)
        self.work_dir = work_dir
        self.tracer = None  # a spans.Tracer, set before the first pass
        self.corrupt = False  # the self-check perturbs the reference
        self.rows = 0
        self.bytes_written = 0  # by the last checked pass, through run_sharded
        self.useful_ratio = 0.0  # set by the corpus part's trace_extras

    def setup(self) -> str:
        """Generate and cache the inputs; return their digest."""
        raise NotImplementedError

    def run_pass(self, pass_id: int):
        raise NotImplementedError

    def build_reference(self) -> None:
        """Compute what the passes are checked against (after the cold pass)."""
        raise NotImplementedError

    def check(self, result) -> bool:
        raise NotImplementedError

    def trace_extras(self) -> None:
        """Compute the layer figures that are not spans (traced runs only,
        after the timed passes)."""


# -- assemble -----------------------------------------------------------------

class Assemble(Workload):
    """Transcripts on disk -> feature matrix -> two as-of joins -> sharded
    checkpointed write."""

    name = "assemble"
    row_unit = "turn"
    nominal_pass_s = 5.0

    def setup(self) -> str:
        from pyspark.sql import functions as F

        from recipeselectors_spark.sources import transcripts as T

        self.in_dir = os.path.join(self.work_dir, "assemble_input")
        tx = T.synthesize_transcripts_distributed(
            self.spark, n_convs=self.size["n_convs"],
            mean_turns=self.size["mean_turns"], seed=self.seed,
            hot_convs=3, hot_factor=self.size["hot_factor"],
        )
        n = self.spark.sparkContext.defaultParallelism
        tx.repartition(n).write.mode("overwrite").parquet(self.in_dir)
        row = self.spark.read.parquet(self.in_dir).agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("conv_id", "turn_idx", "role", "text", "tool", "ts")
                  .cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        self.rows = int(row["n"])
        return _digest(self.rows, str(row["h"]))

    @property
    def cogroup_shards(self) -> int:
        # four shards per core: on 4 cores a conversation is hot when it
        # holds more than 2/16 of the joined rows
        return 4 * self.spark.sparkContext.defaultParallelism

    def run_pass(self, pass_id: int):
        from pyspark.sql import functions as F

        from recipeselectors_spark.operators import asof, assembly
        from recipeselectors_spark.sources import checkpoint

        span = self.tracer.span
        tx = self.spark.read.parquet(self.in_dir)
        with span("operators.assembly.assemble_features"):
            # the matrix feeds the spine and the sharded write: cache it
            fm = assembly.assemble_features(tx).cache()
            fm.count()
        spine = fm.where(F.col("role") == "user").select("conv_id", "ts", "turn_idx")
        tools = tx.where(F.col("role") == "tool").select("conv_id", "ts", "tool")
        with span("operators.asof.asof_join_union"):
            union = asof.asof_join_union(
                spine, tools, ["tool"], tolerance_s=600, ungated_suffix="__plain"
            ).toPandas()
        with span("operators.asof.asof_join_cogroup"):
            cogroup = asof.asof_join_cogroup(
                spine, tools, ["tool"], num_shards=self.cogroup_shards
            ).toPandas()
        out_dir = os.path.join(self.work_dir, f"assemble_out/pass-{pass_id}")
        with span("sources.checkpoint.run_sharded"):
            checkpoint.run_sharded(
                fm, out_dir, transform=lambda d: d, num_shards=2, max_concurrent=2
            )
        return {"fm": fm, "union": union, "cogroup": cogroup, "out_dir": out_dir}

    def build_reference(self) -> None:
        from tests import oracles

        tx = self.spark.read.parquet(self.in_dir).toPandas()
        fm = oracles.assemble_features(tx)
        spine = fm[fm["role"] == "user"][["conv_id", "ts", "turn_idx"]]
        tools = tx[tx["role"] == "tool"][["conv_id", "ts", "tool"]]
        # the three hot conversations must pass the cogroup's hot-key cap
        # (asof.hot_conv_shards), so its dedicated-shard path runs
        counts = pd.concat([spine["conv_id"], tools["conv_id"]]).value_counts()
        cap = 2.0 * counts.sum() / self.cogroup_shards
        if (counts > cap).sum() != 3:
            raise RuntimeError(f"{(counts > cap).sum()} hot conversations, want 3")
        plain = oracles.asof_join(spine, tools, ["tool"])
        tol = oracles.asof_join(spine, tools, ["tool"], tolerance_s=600)
        union = plain.rename(columns={"tool": "tool__plain"}).merge(
            tol, on=["conv_id", "ts", "turn_idx"]
        )
        if self.corrupt:
            fm["f_text_len"] = fm["f_text_len"] + 1.0
        self.ref = {
            # the matrix is checked on a deterministic slice: conversations *0
            "fm": fm[fm["conv_id"].str.endswith("0")],
            "union": union,
            "cogroup": plain,
            "n_rows": len(fm),
            "sum_text_len": float(fm["f_text_len"].sum()),
        }

    def check(self, result) -> bool:
        from pyspark.sql import functions as F

        from recipeselectors_spark.sources import checkpoint

        keys = ["conv_id", "ts", "turn_idx"]
        fm = result["fm"].where(F.col("conv_id").endswith("0")).toPandas()
        ok = _frames_equal(fm, self.ref["fm"], keys)
        ok &= _frames_equal(result["union"], self.ref["union"], keys)
        ok &= _frames_equal(result["cogroup"], self.ref["cogroup"], keys)
        written = checkpoint.read_sharded(self.spark, result["out_dir"]).agg(
            F.count("*").alias("n"), F.sum("f_text_len").alias("s")
        ).collect()[0]
        ok &= int(written["n"]) == self.ref["n_rows"]
        ok &= _close(float(written["s"]), self.ref["sum_text_len"])
        self.bytes_written = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(result["out_dir"])
            for f in fs
            if "shard=" in d
        )
        result["fm"].unpersist()
        shutil.rmtree(result["out_dir"], ignore_errors=True)
        return bool(ok)


# -- select_models ------------------------------------------------------------

N_NUMERIC = 38
NOMINAL = [f"c{i}" for i in range(6)]


def _select_frame(rng: np.random.Generator, n: int) -> pd.DataFrame:
    y = rng.integers(0, 2, n)
    cols = {}
    for j in range(N_NUMERIC):
        x = rng.normal(0.0, 1.0, n)
        if j % 4 == 0:
            x = x + 0.8 * y * (1 + j % 3)  # planted informative
        if j % 5 == 1:
            x = np.round(x, 1)  # ties exercise the rank and cut paths
        cols[f"x{j:02d}"] = x
    for i, c in enumerate(NOMINAL):
        lv = rng.integers(0, 5, n)
        if i % 2 == 0:
            lv = np.where(rng.random(n) < 0.3, y * 4, lv)  # planted informative
        cols[c] = np.array(list("abcde"))[lv]
    d = [f"x{j:02d}" for j in range(24, 32)]
    cols["score"] = sum(cols[c] * (k % 3) for k, c in enumerate(d)) + rng.normal(0, 1, n)
    cols["y"] = np.where(y == 1, "pos", "neg")
    return pd.DataFrame(cols)


class SelectModels(Workload):
    """Cached wide matrix -> seven-step recipe prep (five filters, a
    permutation-importance random forest, Boruta) -> bake on held-out rows
    -> reprune over a top_p grid."""

    name = "select_models"
    row_unit = "cell"
    nominal_pass_s = 14.0

    GROUPS = {
        "infgain": [f"x{j:02d}" for j in range(0, 8)],
        "roc": [f"x{j:02d}" for j in range(8, 16)],
        "xtab": NOMINAL,
        "mrmr": [f"x{j:02d}" for j in range(16, 24)],
        "carscore": [f"x{j:02d}" for j in range(24, 32)],
        # x32 and x36 are the planted columns of the model groups
        "forests": ["x32", "x33"],
        "boruta": ["x36", "x37"],
    }
    MODEL_SPANS = ("operators.select_forests.prep", "operators.select_boruta.prep")

    def setup(self) -> str:
        rng = np.random.default_rng(self.seed)
        self.train_pdf = _select_frame(rng, self.size["n_train"])
        hold = _select_frame(rng, self.size["n_holdout"])
        self.train = self.spark.createDataFrame(self.train_pdf).cache()
        self.holdout = self.spark.createDataFrame(hold).cache()
        self.train.count()
        self.holdout.count()
        n_feat = N_NUMERIC + len(NOMINAL)
        self.rows = len(self.train_pdf) * n_feat
        return _digest(self.train_pdf, hold)

    def _steps(self):
        from recipeselectors_spark.operators import (
            BorutaStep, CarScoreStep, ForestsStep, InfGainStep, MrmrStep,
            RocStep, XtabStep,
        )

        g, trees = self.GROUPS, self.size["trees"]
        return [
            ("operators.select_infgain.prep",
             InfGainStep("y", terms=g["infgain"], top_p=4, equal=True, bins=10)),
            ("operators.select_roc.prep", RocStep("y", terms=g["roc"], top_p=4)),
            ("operators.select_xtab.prep", XtabStep("y", terms=g["xtab"], top_p=3)),
            ("operators.select_mrmr.prep",
             MrmrStep("y", terms=g["mrmr"], top_p=4, bins=10)),
            ("operators.select_carscore.prep",
             CarScoreStep("score", terms=g["carscore"], top_p=4)),
            ("operators.select_forests.prep",
             ForestsStep("y", terms=g["forests"], top_p=2, importance="permutation",
                         trees=trees, max_depth=5)),
            ("operators.select_boruta.prep",
             BorutaStep("y", terms=g["boruta"], max_runs=self.size["max_runs"],
                        trees=trees, max_depth=5)),
        ]

    def run_pass(self, pass_id: int):
        from recipeselectors_spark.plans import tuning
        from recipeselectors_spark.plans.pipeline import Recipe

        span = self.tracer.span
        recipe = Recipe()
        steps = self._steps()
        for name, step in steps:
            step.prep = _spanned(span, name, step.prep)
            recipe.add(step)
        fitted = recipe.prep(self.train)
        with span("plans.pipeline.bake"):
            baked = fitted.bake(self.holdout)
            baked.write.format("noop").mode("overwrite").save()
        with span("plans.tuning.reprune"):
            grid = [
                [
                    tuning.reprune(f, top_p=k, prune_mode=step.prune_mode,
                                   maximize=step.maximize).exclude
                    for k in range(1, len(f.scores) + 1)
                ]
                for (_, step), f in zip(steps, fitted.steps)
                if step.needs_criteria
            ]
        return {"fitted": fitted, "columns": baked.columns, "grid": grid}

    def build_reference(self) -> None:
        from tests import oracles

        pdf, g = self.train_pdf, self.GROUPS
        self.ref = [
            oracles.infgain_scores(pdf, g["infgain"], "y", equal=True, bins=10),
            oracles.roc_scores(pdf, g["roc"], "y"),
            oracles.xtab_scores(pdf, g["xtab"], "y"),
            oracles.mrmr_scores(pdf, g["mrmr"], "y", bins=10),
            oracles.carscore_scores(pdf, g["carscore"], "score"),
        ]
        if self.corrupt:
            self.ref[1] = {k: v * 0.5 for k, v in self.ref[1].items()}
        # the model steps have no pandas reference: the first checked
        # pass's scores and decisions are the reference later passes repeat
        self.model_ref = None

    def check(self, result) -> bool:
        fitted = result["fitted"]
        filters, (forests, boruta) = fitted.steps[:5], fitted.steps[5:]
        ok = True
        for f, want in zip(filters, self.ref):
            ok &= sorted(f.scores) == sorted(want)
            ok &= all(_close(f.scores[k], want[k]) for k in want)
        # the grid at the fitted top_p reproduces the fitted decision
        for f, row in zip(fitted.steps[:6], result["grid"]):
            ok &= sorted(row[f.params["top_p"] - 1]) == sorted(f.exclude)
        kept = [c for c in self.train.columns if c not in fitted.exclude]
        ok &= sorted(result["columns"]) == sorted(kept)
        # planted structure: the forest ranks x32 first, Boruta keeps x36
        ok &= max(forests.scores, key=forests.scores.get) == "x32"
        ok &= "x32" not in forests.exclude and "x36" not in boruta.exclude
        d = _digest(*[
            (sorted(f.exclude), sorted((k, round(v, 9)) for k, v in f.scores.items()))
            for f in (forests, boruta)
        ])
        if self.model_ref is None:
            self.model_ref = d
            print(json.dumps({"output_digest": d}))
        return bool(ok) and d == self.model_ref


# -- corpus -------------------------------------------------------------------

_STOP = ("the of and to in is that it was for on are with as be at by this "
         "from or an have not but they which").split()
_SYLLABLES = "ba ko ri mu te sa lo ne pi du ga fe zo hu ji wy".split()
_CONTENT = [a + b for a in _SYLLABLES for b in _SYLLABLES] + [
    a + b + c for a in _SYLLABLES[:9] for b in _SYLLABLES[:4] for c in _SYLLABLES
]


def _corpus(rng: np.random.Generator, n_base: int):
    """Documents with planted exact duplicates, near duplicates (two words
    changed) and low-quality rows, plus BM25 queries. Returns (docs,
    queries, planted) where planted holds the doc ids that must not
    survive."""
    texts, planted = [], {"exact": [], "low": []}
    for _ in range(n_base):
        n = int(rng.integers(60, 90))
        words = [
            _STOP[i] if rng.random() < 0.2 else _CONTENT[j]
            for i, j in zip(rng.integers(0, len(_STOP), n),
                            rng.integers(0, len(_CONTENT), n))
        ]
        texts.append(words)
    docs = [" ".join(w) for w in texts]
    for i in range(0, n_base, 6):  # exact copies
        planted["exact"].append(len(docs))
        docs.append(docs[i])
    for i in range(3, n_base, 6):  # near copies: two words changed
        w = list(texts[i])
        w[-1], w[len(w) // 2] = "zeppelin", "xylophone"
        docs.append(" ".join(w))
    for i in range(0, n_base, 10):  # too few tokens / one word repeated
        planted["low"].append(len(docs))
        docs.append(" ".join(texts[i][:20]) if i % 20 else " ".join(["echo"] * 80))
    pdf = pd.DataFrame({"doc_id": np.arange(len(docs), dtype=np.int64), "text": docs})
    queries = pd.DataFrame({
        "q_id": np.arange(8, dtype=np.int64),
        "query": [" ".join(rng.choice(_CONTENT, 3, replace=False)) for _ in range(8)],
    })
    return pdf, queries, planted


class Corpus(Workload):
    """Seeded documents -> quality filter -> BM25 scores -> MinHash-LSH
    duplicate clusters. There is no pandas reference: the digest of the
    first checked pass is the reference every later pass must repeat,
    and no planted exact copy or low-quality document may survive."""

    name = "corpus"
    row_unit = "doc"
    nominal_pass_s = 6.0

    def setup(self) -> str:
        rng = np.random.default_rng(self.seed)
        pdf, queries, self.planted = _corpus(rng, self.size["n_base"])
        n = self.spark.sparkContext.defaultParallelism
        self.docs = self.spark.createDataFrame(pdf).repartition(n).cache()
        self.queries = self.spark.createDataFrame(queries).cache()
        self.docs.count()
        self.queries.count()
        self.rows = len(pdf)
        return _digest(pdf, queries)

    def run_pass(self, pass_id: int):
        from recipeselectors_spark.operators import bm25, dedup
        from recipeselectors_spark.operators.quality_filter import quality_filter

        span = self.tracer.span
        with span("operators.quality_filter.quality_filter"):
            kept = quality_filter(self.docs).cache()
            kept.count()
        with span("operators.bm25.bm25_scores"):
            scores = bm25.bm25_scores(kept, self.queries).toPandas()
        with span("operators.dedup.dedup_corpus_clusters"):
            survivors = [r[0] for r in
                         dedup.dedup_corpus_clusters(kept).select("doc_id").collect()]
        kept.unpersist()
        return {"scores": scores, "survivors": sorted(survivors)}

    def build_reference(self) -> None:
        self.ref = None  # set by the first checked pass

    def check(self, result) -> bool:
        s = result["scores"].sort_values(["q_id", "doc_id"]).reset_index(drop=True)
        s["bm25"] = s["bm25"].round(9)
        d = _digest(s, result["survivors"])
        if self.ref is None:
            self.ref = d + ("-corrupted" if self.corrupt else "")
            print(json.dumps({"output_digest": d}))
        gone = set(self.planted["exact"]) | set(self.planted["low"])
        survivors = set(result["survivors"])
        return bool(survivors) and not gone & survivors and d == self.ref

    def trace_extras(self) -> None:
        """Verified near-duplicate pairs per LSH candidate pair, on the
        exact-deduplicated documents that pass the quality filter."""
        from pyspark.sql import functions as F

        from recipeselectors_spark.operators import dedup
        from recipeselectors_spark.operators.quality_filter import quality_filter

        uniq = dedup.drop_exact_duplicates(quality_filter(self.docs))
        cand = dedup.minhash_candidates(dedup.with_minhash(uniq), bands=8)
        n_cand = (
            cand.alias("a").join(cand.alias("b"), ["band", "bucket"])
            .where(F.col("a.doc_id") < F.col("b.doc_id"))
            .select("a.doc_id", "b.doc_id").distinct().count()
        )
        n_pairs = dedup.minhash_dedup_pairs(uniq, threshold=0.8).count()
        self.useful_ratio = n_pairs / n_cand if n_cand else 0.0


# -- assemble_corpus ----------------------------------------------------------

class AssembleCorpus(Workload):
    """The assemble pass, then the corpus pass, each on its own input: the
    data-preparation layers (window exchange, as-of joins, checkpointed
    write, quality rules, BM25, MinHash-LSH clusters) in one pass."""

    name = "assemble_corpus"
    row_unit = "turn or doc"

    def __init__(self, spark, seed: int, size: str, work_dir: str):
        super().__init__(spark, seed, size, work_dir)
        self.parts = [Assemble(spark, seed, size, work_dir),
                      Corpus(spark, seed, size, work_dir)]
        self.size = {p.name: p.size for p in self.parts}
        self.nominal_pass_s = sum(p.nominal_pass_s for p in self.parts)

    def _share(self) -> None:
        for p in self.parts:
            p.tracer, p.corrupt = self.tracer, self.corrupt

    def setup(self) -> str:
        digests = [p.setup() for p in self.parts]
        self.rows = sum(p.rows for p in self.parts)
        return _digest(*digests)

    def run_pass(self, pass_id: int):
        self._share()
        return [p.run_pass(pass_id) for p in self.parts]

    def build_reference(self) -> None:
        self._share()
        for p in self.parts:
            p.build_reference()

    def check(self, result) -> bool:
        # check every part, so each part's figures stay current
        oks = [p.check(r) for p, r in zip(self.parts, result)]
        self.bytes_written = self.parts[0].bytes_written
        return all(oks)

    def trace_extras(self) -> None:
        for p in self.parts:
            p.trace_extras()
        self.useful_ratio = self.parts[1].useful_ratio


def _spanned(span, name, fn):
    def call(*args, **kwargs):
        with span(name):
            return fn(*args, **kwargs)
    return call


WORKLOADS = {w.name: w for w in (AssembleCorpus, SelectModels)}
