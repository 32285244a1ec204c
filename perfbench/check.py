"""Output comparison for the averaging top-k families.

The engine rounds each group mean to 4 decimals before ranking. A mean
that sits on a rounding tie (say 1.66875) comes out either way
depending on summation order, and can then swap places with a
neighbour at the top-k boundary. So an output is accepted when it is
*a* correct top-k within that rounding step, not only *the* one a
second engine happens to produce.
"""

from __future__ import annotations

import math
from collections import defaultdict

ROUND_STEP = 1e-4


def top_k_ok(
    cols: list[str],
    rows: list[tuple],
    keys: list[str],
    out: str,
    n_part: int,
    means: dict[tuple, float],
    k: int = 10,
) -> bool:
    """True when ``rows`` hold, for each partition (the first
    ``n_part`` keys), ``min(k, groups)`` distinct groups whose values
    are their exact ``means`` rounded to ``ROUND_STEP``, and no group
    left out has a mean lower than a chosen one by more than a step."""
    at = {c: i for i, c in enumerate(cols)}
    chosen: dict[tuple, set] = defaultdict(set)
    for r in rows:
        key = tuple(r[at[c]] for c in keys)
        mean = means.get(key)
        if mean is None or abs(r[at[out]] - mean) > ROUND_STEP / 2 + 1e-9:
            return False
        chosen[key[:n_part]].add(key)
    groups: dict[tuple, list[tuple]] = defaultdict(list)
    for key in means:
        groups[key[:n_part]].append(key)
    if set(chosen) != set(groups) or sum(map(len, chosen.values())) != len(rows):
        return False
    for part, members in groups.items():
        picked = chosen[part]
        if len(picked) != min(k, len(members)):
            return False
        worst = max(means[g] for g in picked)
        best_left = min((means[g] for g in members if g not in picked), default=math.inf)
        if worst > best_left + ROUND_STEP:
            return False
    return True
