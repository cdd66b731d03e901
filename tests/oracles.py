"""Pure pandas/numpy oracles re-implementing each distributed computation.

These mirror the reference's test strategy (SURVEY.md §5 pattern 1): each
Spark operator is checked against an independent small-scale implementation
of the same formula. The oracles deliberately share only the leaf numeric
kernels (functions/stats.py, functions/discretize.py) with the engine — the
*dataflow* (ordering, grouping, windowing, joining) is re-derived with plain
pandas so a Spark-side dataflow bug cannot self-confirm. The one
exception is :func:`minhash_catalyst`, an independent Catalyst-expression
form of a numpy kernel.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from recipeselectors_spark.functions import discretize, stats


def sort_transcripts(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values(["conv_id", "ts", "turn_idx"], kind="mergesort").reset_index(
        drop=True
    )


def dedup_turns(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values(["conv_id", "turn_idx", "ts"], kind="mergesort")
    return pdf.drop_duplicates(["conv_id", "turn_idx"], keep="first")


def assemble_features(
    pdf: pd.DataFrame,
    session_gap_s: int = 1800,
    rolling_n: int = 5,
    outcome_col: str | None = "role",
) -> pd.DataFrame:
    df = sort_transcripts(dedup_turns(pdf)).copy()
    g = df.groupby("conv_id", sort=False)
    df["f_text_len"] = df["text"].str.len().astype(float)
    df["f_lag1_len"] = g["f_text_len"].shift(1)
    df["f_lag2_len"] = g["f_text_len"].shift(2)
    # exact integer seconds like Spark's cast(ts as long)
    df["__sec__"] = df["ts"].values.astype("datetime64[s]").astype("int64")
    df["f_delta_ts"] = df["__sec__"] - g["__sec__"].shift(1)
    df["f_roll_mean_len"] = (
        g["f_text_len"].rolling(rolling_n, min_periods=1).mean().reset_index(
            level=0, drop=True
        )
    )
    gap = df["f_delta_ts"]
    new_sess = (gap.isna() | (gap > session_gap_s)).astype(int)
    df["__sess__"] = new_sess.groupby(df["conv_id"], sort=False).cumsum() - 1
    df["f_sess_turn"] = df.groupby(["conv_id", "__sess__"], sort=False).cumcount()
    df["f_tool_seen"] = (
        df["tool"].notna().groupby(df["conv_id"], sort=False).cummax().astype(float)
    )
    df["f_is_assistant"] = (df["role"] == "assistant").astype(float)
    df["f_turn_in_conv"] = g.cumcount().astype(float)
    cols = [
        "conv_id",
        "turn_idx",
        "ts",
        "f_text_len",
        "f_lag1_len",
        "f_lag2_len",
        "f_delta_ts",
        "f_roll_mean_len",
        "f_sess_turn",
        "f_tool_seen",
        "f_is_assistant",
        "f_turn_in_conv",
    ]
    if outcome_col:
        cols.append(outcome_col)
    out = df[cols].copy()
    out["f_delta_ts"] = out["f_delta_ts"].astype(float)
    out["f_sess_turn"] = out["f_sess_turn"].astype(float)
    return out.reset_index(drop=True)


def asof_join(
    spine: pd.DataFrame,
    features: pd.DataFrame,
    value_cols: list[str],
    on: str = "conv_id",
    ts: str = "ts",
    tolerance_s: int | None = None,
    direction: str = "backward",
) -> pd.DataFrame:
    tol = pd.Timedelta(seconds=tolerance_s) if tolerance_s is not None else None
    return pd.merge_asof(
        spine.sort_values([ts, on], kind="mergesort"),
        features[[on, ts] + value_cols].sort_values([ts, on], kind="mergesort"),
        on=ts,
        by=on,
        direction=direction,
        tolerance=tol,
        allow_exact_matches=True,
    )


# ---- selection-step score oracles ----------------------------------------

def infgain_scores(
    pdf: pd.DataFrame, x_names: list[str], outcome: str, mode: str = "infogain",
    equal: bool = False, bins: int = 10,
) -> dict[str, float]:
    y, _ = pd.factorize(pdf[outcome], sort=True)
    out = {}
    for c in x_names:
        x = pdf[c]
        if x.dtype == object:
            codes, _ = pd.factorize(x, sort=True)
        else:
            xv = x.to_numpy(dtype=float)
            if equal:
                cuts = discretize.equal_freq_cut_points(xv, bins=bins)
            else:
                cuts = discretize.mdl_cut_points(xv, y)
            codes = discretize.apply_cut_points(xv, cuts)
        mask = codes >= 0
        joint = pd.crosstab(codes[mask], y[mask]).to_numpy(dtype=float)
        out[c] = stats.info_gain_from_joint(joint, mode)
    return out


def roc_scores(pdf: pd.DataFrame, x_names: list[str], outcome: str) -> dict[str, float]:
    y = pdf[outcome].to_numpy()
    classes = sorted(set(y.tolist()))
    out = {}
    for c in x_names:
        x = pdf[c].to_numpy(dtype=float)
        if len(classes) == 2:
            out[c] = stats.auc_binary(x, y == classes[0])
        else:
            out[c] = stats.auc_hand_till(x, y)
    return out


def xtab_scores(
    pdf: pd.DataFrame, x_names: list[str], outcome: str,
    test: str = "chisq", fdr: bool = False,
) -> dict[str, float]:
    out = {}
    for c in x_names:
        sub = pdf[[c, outcome]].dropna()
        tab = pd.crosstab(sub[c], sub[outcome]).to_numpy(dtype=float)
        if test == "fisher":
            try:
                out[c] = stats.fisher_exact(tab)
            except stats.FisherBudgetExceeded:
                out[c] = stats.chi2_test(tab)
        else:
            out[c] = stats.chi2_test(tab)
    if fdr:
        names = list(out)
        adj = stats.bh_adjust(np.array([out[n] for n in names]))
        out = {n: float(a) for n, a in zip(names, adj)}
    return out


def mrmr_scores(
    pdf: pd.DataFrame, x_names: list[str], outcome: str, bins: int = 10
) -> dict[str, float]:
    codes = {}
    for c in x_names:
        x = pdf[c]
        if x.dtype == object:
            codes[c], _ = pd.factorize(x, sort=True)
        else:
            xv = x.to_numpy(dtype=float)
            cuts = discretize.equal_freq_cut_points(xv, bins=bins)
            codes[c] = discretize.apply_cut_points(xv, cuts)
    y, _ = pd.factorize(pdf[outcome], sort=True)

    def mi(a, b):
        return stats.mutual_information(pd.crosstab(a, b).to_numpy(dtype=float))

    relevance = {c: mi(codes[c], y) for c in x_names}
    selected, scores = [], {}
    red = {c: 0.0 for c in x_names}
    remaining = list(x_names)
    first = max(remaining, key=lambda c: relevance[c])
    scores[first] = relevance[first]
    selected.append(first)
    remaining.remove(first)
    while remaining:
        for c in remaining:
            red[c] += mi(codes[c], codes[selected[-1]])
        cand = {c: relevance[c] - red[c] / len(selected) for c in remaining}
        best = max(cand, key=lambda c: cand[c])
        scores[best] = cand[best]
        selected.append(best)
        remaining.remove(best)
    return scores


def schafer_strimmer_lambda(x: np.ndarray) -> float:
    """Independent brute-force Schäfer–Strimmer λ*: materialize the per-row
    products w_kij = z_ki·z_kj explicitly (no sufficient-stats shortcut)."""
    n, p = x.shape
    z = (x - x.mean(0)) / x.std(0, ddof=1)
    r = (z.T @ z) / (n - 1)
    num = den = 0.0
    for i in range(p):
        for j in range(p):
            if i == j:
                continue
            w = z[:, i] * z[:, j]
            num += n / (n - 1) ** 3 * ((w - w.mean()) ** 2).sum()
            den += r[i, j] ** 2
    if den <= 0:
        return 1.0
    return min(1.0, max(0.0, num / den))


def carscore_scores(
    pdf: pd.DataFrame, x_names: list[str], outcome: str,
    lam: float | str = "auto", diagonal: bool = False,
) -> dict[str, float]:
    sub = pdf[list(x_names) + [outcome]].dropna()
    corr = np.corrcoef(sub.to_numpy(dtype=float), rowvar=False)
    if lam == "auto":
        lam = 0.0 if diagonal else schafer_strimmer_lambda(
            sub[list(x_names)].to_numpy(dtype=float)
        )
    omega = stats.carscore(corr[:-1, :-1], corr[:-1, -1], lam=lam, diagonal=diagonal)
    return {c: float(w) for c, w in zip(x_names, omega)}


def minhash_catalyst(
    df,
    text_col: str = "text",
    num_perm: int = 32,
    k_shingle: int = 3,
    seed: int = 42,
    out: str = "minhash",
):
    """Reference for ``dedup.with_minhash``: the same signatures as
    ``num_perm`` pure-Catalyst ``F.transform``/``F.array_min`` expressions
    (the engine's pre-vectorization form). It shares the shingle hashes and
    permutation parameters with the engine — the quantity under test is
    the numpy affine-transform/min kernel. A shingle hash equal to the
    int64 minimum makes ANSI ``F.abs`` throw here, where the numpy kernel
    still returns a valid residue."""
    from pyspark.sql import functions as F

    from recipeselectors_spark.functions import text as TX
    from recipeselectors_spark.operators.dedup import MERSENNE_P, _perm_params

    a, b = _perm_params(num_perm, seed)
    df = df.withColumn("__sh__", TX.shingles(text_col, k=k_shingle))

    def perm(ai: int, bi: int):
        # closure factory: pyspark binds lambda variables by arity, so the
        # captured params must NOT appear in the lambda signature
        return lambda x: ((F.abs(x) % MERSENNE_P) * ai + bi) % MERSENNE_P

    mins = [
        F.array_min(F.transform("__sh__", perm(ai, bi))).alias(f"mh_{i}")
        for i, (ai, bi) in enumerate(zip(a, b))
    ]
    return df.withColumn(out, F.array(*mins)).drop("__sh__")
