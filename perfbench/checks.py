"""Output checks, run on collected outputs outside the timed region.

Pure pandas/numpy, so ``test_checks.py`` can feed them perturbed outputs
without Spark. Each check returns a list of failure messages; empty means
the output passed.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

#: the engine rounds scores to 3 decimals and Spark's and numpy's ``log``
#: may differ in the last ulp, so a recomputed score may land one rounding
#: step away; anything beyond that is a wrong score
SCORE_TOL = 1.5e-3


def _xlogx(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.float64)
    out = np.zeros_like(x)
    pos = x > 0
    out[pos] = x[pos] * np.log(x[pos])
    return out


def llr(k11, k12, k21, k22) -> np.ndarray:
    """Dunning's G^2, the same arithmetic tree as ``functions/llr.py``."""
    k11, k12, k21, k22 = (np.asarray(k, dtype=np.float64) for k in (k11, k12, k21, k22))
    a = _xlogx(k11 + k12 + k21 + k22)
    row = a - _xlogx(k11 + k12) - _xlogx(k21 + k22)
    col = a - _xlogx(k11 + k21) - _xlogx(k12 + k22)
    mat = a - _xlogx(k11) - _xlogx(k12) - _xlogx(k21) - _xlogx(k22)
    return np.where(row + col < mat, 0.0, 2.0 * (row + col - mat))


def check_cooc(
    *,
    history_lens: pd.Series,
    k_max: int,
    item_counts: pd.DataFrame,
    f_max: int,
    item_rows: pd.DataFrame,
    row_sums: pd.DataFrame,
    total: int,
    late_elements: int,
    late_planted: int,
    topk: pd.DataFrame,
    k: int,
) -> list[str]:
    """Invariants of the sampled cooccurrence engine's final state.

    ``item_rows``: (item, other_item, cnt); ``row_sums``: (item, row_sum);
    ``topk``: (item, rank, other_item, cnt, score) from the engine."""
    fails = []
    if len(history_lens) and int(history_lens.max()) > k_max:
        fails.append(f"a user history holds {int(history_lens.max())} > kMax={k_max}")
    if len(item_counts) and int(item_counts["cnt"].max()) > f_max:
        fails.append(f"an item admitted {int(item_counts['cnt'].max())} > fMax={f_max}")
    if late_elements != late_planted:
        fails.append(f"late_elements={late_elements}, planted {late_planted}")
    sums = item_rows.groupby("item")["cnt"].sum()
    rs = row_sums.set_index("item")["row_sum"]
    rs = rs[rs != 0]
    both = pd.concat([sums.rename("m"), rs.rename("r")], axis=1).fillna(0)
    bad = both[both["m"] != both["r"]]
    if len(bad):
        fails.append(f"{len(bad)} row sums differ from their matrix rows")
    if int(rs.sum()) != int(total):
        fails.append(f"total {total} != sum of row sums {int(rs.sum())}")
    fails += _check_topk(item_rows, row_sums, int(total), topk, k)
    return fails


def _check_topk(item_rows, row_sums, total, topk, k) -> list[str]:
    """The engine's top-K per item against an LLR recomputation over its
    own final matrix: the same candidates, scores within ``SCORE_TOL``,
    ranks in score order, and no left-out candidate scoring above the
    lowest kept one by more than the tolerance."""
    rs = row_sums.set_index("item")["row_sum"]
    m = item_rows[item_rows["cnt"] != 0]
    ri = rs.reindex(m["item"]).to_numpy()
    ro = rs.reindex(m["other_item"]).to_numpy()
    c = m["cnt"].to_numpy()
    ref = m.assign(ref=llr(c, ri - c, ro - c, total + c - (ri - c) - (ro - c)))
    got = topk.merge(ref, on=["item", "other_item"], how="left", suffixes=("", "_m"))
    fails = []
    if got["ref"].isna().any():
        return [f"{int(got['ref'].isna().sum())} top-K cells are not in the matrix"]
    if (got["cnt"] != got["cnt_m"]).any():
        fails.append("top-K counts differ from the matrix")
    if (np.abs(got["score"] - got["ref"]) > SCORE_TOL).any():
        fails.append("top-K scores differ from the LLR recomputation")
    want_n = ref.groupby("item").size().clip(upper=k)
    have_n = topk.groupby("item").size().reindex(want_n.index).fillna(0)
    if (have_n != want_n).any():
        fails.append(f"{int((have_n != want_n).sum())} items have the wrong top-K length")
    ordered = got.sort_values(["item", "rank"])
    drops = ordered.groupby("item")["score"].diff()
    if (drops > SCORE_TOL).any():
        fails.append("top-K ranks are not in score order")
    kept_min = got.groupby("item")["ref"].min()
    left = ref.merge(topk[["item", "other_item"]], how="left", indicator=True)
    left = left[left["_merge"] == "left_only"]
    over = left["ref"].to_numpy() > kept_min.reindex(left["item"]).to_numpy() + SCORE_TOL
    if over.any():
        fails.append(f"{int(over.sum())} left-out candidates outscore the kept top-K")
    return fails


def frames_equal(got: pd.DataFrame, exp: pd.DataFrame) -> bool:
    """Exact equality up to row order, the driver's oracle comparison."""
    if sorted(got.columns) != sorted(exp.columns) or len(got) != len(exp):
        return False
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    e = exp[cols].sort_values(cols).reset_index(drop=True)
    return all(bool(np.array_equal(g[c].to_numpy(), e[c].to_numpy())) for c in cols)
