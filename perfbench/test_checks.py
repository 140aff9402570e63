"""Self-tests of the benchmark's output checks: a correct output passes and
every perturbed output is flagged. No Spark; run with
``python3 -m pytest perfbench/test_checks.py -q``."""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402

K = 3


def _state(seed: int = 0):
    """A symmetric cooccurrence matrix, its row sums and a reference top-K."""
    rng = np.random.default_rng(seed)
    n = 12
    c = rng.integers(0, 4, size=(n, n))
    c = np.triu(c, 1)
    c = c + c.T
    ii, jj = np.nonzero(c)
    rows = pd.DataFrame({"item": ii, "other_item": jj, "cnt": c[ii, jj]})
    rs = rows.groupby("item", as_index=False)["cnt"].sum().rename(columns={"cnt": "row_sum"})
    total = int(rs["row_sum"].sum())
    r = rs.set_index("item")["row_sum"]
    ri, ro, k11 = r[rows["item"]].to_numpy(), r[rows["other_item"]].to_numpy(), rows["cnt"].to_numpy()
    score = np.round(checks.llr(k11, ri - k11, ro - k11, total + k11 - (ri - k11) - (ro - k11)), 3)
    top = (
        rows.assign(score=score)
        .sort_values(["item", "score", "other_item"], ascending=[True, False, True])
        .groupby("item")
        .head(K)
    )
    top = top.assign(rank=top.groupby("item").cumcount() + 1)
    return rows, rs, total, top[["item", "rank", "other_item", "cnt", "score"]].reset_index(drop=True)


def _kwargs(**over):
    rows, rs, total, top = _state()
    kw = dict(
        history_lens=pd.Series([3, 5, 5]),
        k_max=5,
        item_counts=pd.DataFrame({"item": [0, 1], "cnt": [4, 7]}),
        f_max=7,
        item_rows=rows,
        row_sums=rs,
        total=total,
        late_elements=9,
        late_planted=9,
        topk=top,
        k=K,
    )
    kw.update(over)
    return kw


def test_correct_state_passes():
    assert checks.check_cooc(**_kwargs()) == []


def _drop_best(top):
    """Each item loses its best candidate: a top-K that is too short."""
    return top[top["rank"] != 1].reset_index(drop=True)


def _keep_worse(rows, top):
    """An item's lowest kept candidate swapped for one that was left out
    with a lower score: still K rows, but not the top K."""
    for item, kept in top.groupby("item")["other_item"]:
        left = rows[(rows["item"] == item) & ~rows["other_item"].isin(set(kept))]
        if len(left):
            t = top.copy()
            last = kept.index[-1]
            t.loc[last, "other_item"] = int(left.iloc[0]["other_item"])
            t.loc[last, "cnt"] = int(left.iloc[0]["cnt"])
            return t
    raise AssertionError("the fixture has no item with a left-out candidate")


PERTURBATIONS = {
    "history over kMax": lambda kw: {"history_lens": pd.Series([3, 6])},
    "item admitted over fMax": lambda kw: {
        "item_counts": pd.DataFrame({"item": [0], "cnt": [8]})
    },
    "late count": lambda kw: {"late_elements": 8},
    "row sum": lambda kw: {
        "row_sums": kw["row_sums"].assign(row_sum=kw["row_sums"]["row_sum"] + (kw["row_sums"]["item"] == 0))
    },
    "total": lambda kw: {"total": kw["total"] + 2},
    "top-K score": lambda kw: {"topk": kw["topk"].assign(score=kw["topk"]["score"] + 0.01)},
    "top-K count": lambda kw: {"topk": kw["topk"].assign(cnt=kw["topk"]["cnt"] + 1)},
    "top-K rank order": lambda kw: {
        "topk": kw["topk"].assign(rank=kw["topk"].groupby("item")["rank"].transform(lambda r: r[::-1].to_numpy()))
    },
    "top-K length": lambda kw: {"topk": _drop_best(kw["topk"])},
    "top-K not the best": lambda kw: {"topk": _keep_worse(kw["item_rows"], kw["topk"])},
    "top-K cell outside the matrix": lambda kw: {
        "topk": kw["topk"].assign(other_item=kw["topk"]["other_item"] + 100)
    },
}


@pytest.mark.parametrize("name", sorted(PERTURBATIONS))
def test_perturbed_state_is_flagged(name):
    kw = _kwargs()
    kw.update(PERTURBATIONS[name](kw))
    assert checks.check_cooc(**kw), f"{name} was not flagged"


def test_frames_equal_ignores_row_order_only():
    df = pd.DataFrame({"a": [1, 2, 3], "b": [0.5, 0.25, 0.125]})
    assert checks.frames_equal(df.iloc[::-1], df)
    assert not checks.frames_equal(df.assign(b=df["b"] + 1e-12), df)
    assert not checks.frames_equal(df.iloc[:2], df)
    assert not checks.frames_equal(df.rename(columns={"b": "c"}), df)


def test_benchmark_json_lists_the_reported_metrics():
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(run.WORKLOADS)
