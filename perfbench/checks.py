"""Output checks that need no Spark: frame comparison and the planted
duplicate-family check.  Each returns the number of failing items, so a
workload turns any non-zero answer into failed operations."""

from __future__ import annotations

import pandas as pd

#: share of planted near-duplicate families (and the template family) that
#: must collapse to exactly one survivor
NEAR_RECALL_FLOOR = 0.9


def frame_mismatches(actual: pd.DataFrame, expected: pd.DataFrame,
                     key: str) -> int:
    """Rows present on one side only, plus rows whose columns differ."""
    cols = list(expected.columns)
    a = actual[cols].drop_duplicates()
    e = expected[cols].drop_duplicates()
    if a[key].duplicated().any():
        # one key with two different rows is a mismatch by itself
        return int(a[key].duplicated().sum()) + frame_mismatches(
            a.drop_duplicates(key), e, key
        )
    m = a.merge(e, on=key, how="outer", suffixes=("_a", "_e"), indicator=True)
    one_side = int((m["_merge"] != "both").sum())
    both = m[m["_merge"] == "both"]
    differ = pd.Series(False, index=both.index)
    for c in cols:
        if c == key:
            continue
        x, y = both[f"{c}_a"], both[f"{c}_e"]
        differ |= ~((x == y) | (x.isna() & y.isna()))
    return one_side + int(differ.sum())


def family_failures(survivors: set[str], families: list[dict],
                    singletons: list[str],
                    floor: float = NEAR_RECALL_FLOOR) -> dict:
    """Judge dedup survivors against the planted ground truth.

    * an exact family must keep exactly one member;
    * near and template families must keep at least one member, and at
      least ``floor`` of them exactly one (recall);
    * every clean singleton must survive — a family or singleton with no
      survivor means two groups were merged.
    """
    exact_bad = merged = near_total = near_collapsed = 0
    for fam in families:
        kept = sum(u in survivors for u in fam["urls"])
        if kept == 0:
            merged += 1
        if fam["kind"] == "exact":
            exact_bad += kept != 1
        else:
            near_total += 1
            near_collapsed += kept == 1
    lost_singletons = sum(u not in survivors for u in singletons)
    recall = near_collapsed / near_total if near_total else 1.0
    return {
        "exact_families_wrong": exact_bad,
        "merged_groups": merged,
        "lost_singletons": lost_singletons,
        "near_recall": recall,
        "near_families": near_total,
        "failures": exact_bad + merged + lost_singletons
        + int(recall < floor),
    }
