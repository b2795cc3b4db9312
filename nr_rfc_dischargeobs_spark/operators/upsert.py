"""Coalescing upsert — the reference's merge primitive (J3).

``combine_first`` semantics (``discharge_obs_pd.py:182-187``): existing
values WIN; incoming data only fills holes and extends the key range.  The
comment at ``discharge_obs_pd.py:176`` notes revised upstream data therefore
never overwrites — a documented reference quirk we preserve behind
``existing_wins=True`` (set False for the corrected merge).

This module holds the wide form (one value column per station): a
full-outer join + per-column coalesce, used by the registered
``j3_coalescing_upsert`` plan.  The long (canonical) form lives in one
place, ``sources.store.ObservationStore.upsert``: union + per-key winner
window, fused with the store's partitioned write — one shuffle for any
number of stations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def coalesce_upsert_wide(
    existing: DataFrame,
    incoming: DataFrame,
    keys: list[str],
    existing_wins: bool = True,
) -> DataFrame:
    """J3 on wide frames: full-outer join on keys, then per-value-column
    ``coalesce``.  Value columns are the union of both sides; a column
    present on one side only passes through.
    """
    e_vals = [c for c in existing.columns if c not in keys]
    i_vals = [c for c in incoming.columns if c not in keys]
    e = existing.select(keys + [F.col(c).alias(f"__e_{c}") for c in e_vals])
    i = incoming.select(keys + [F.col(c).alias(f"__i_{c}") for c in i_vals])
    joined = e.join(i, keys, "full_outer")
    out_cols = [F.col(k) for k in keys]
    for c in dict.fromkeys(e_vals + i_vals):  # union, preserve order
        has_e, has_i = c in e_vals, c in i_vals
        if has_e and has_i:
            first, second = ("__e_", "__i_") if existing_wins else ("__i_", "__e_")
            col = F.coalesce(F.col(first + c), F.col(second + c))
        else:
            col = F.col(("__e_" if has_e else "__i_") + c)
        out_cols.append(col.alias(c))
    return joined.select(*out_cols)

