"""Seeded inputs. The same seed gives the same inputs, bit for bit.

The token rows come from the package's own counter-based generator (called
through the adapter); the lineitem-shaped table is generated here with numpy,
after TPC-H's lineitem: sparse order keys, 1-7 lines per order, two-decimal
prices, categorical flags, day-granular ship dates and short text comments.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

#: token table size for both token workloads (~3.9 M tokens at any seed)
TOKEN_DOCS = 8_000
#: lineitem-shaped table size for table_dml
TABLE_ROWS = 60_000

_WORDS = np.array(
    "carefully final deposits detect slyly regular accounts sleep furiously "
    "pending requests haggle quickly ironic packages nag blithely even foxes "
    "among express theodolites wake bold instructions boost quietly special "
    "asymptotes across silent pinto beans unusual dependencies".split()
)


def lineitem(n_rows: int, seed: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 0x11E])
    n_orders = n_rows // 3 + 8  # 4 lines per order on average: always enough
    lines = rng.integers(1, 8, n_orders)
    # TPC-H order keys: 8 used of every 32
    ord_idx = np.arange(n_orders, dtype=np.int64)
    okeys = (ord_idx // 8) * 32 + ord_idx % 8 + 1
    ok = np.repeat(okeys, lines)[:n_rows]
    first = np.repeat(np.cumsum(lines) - lines, lines)[:n_rows]
    ln = (np.arange(n_rows) - first + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_rows).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, n_rows), 2)
    day0 = np.datetime64("1992-01-02", "us")
    ship = day0 + rng.integers(0, 2526, n_rows).astype("timedelta64[D]")
    n_words = rng.integers(2, 7, n_rows)
    words = _WORDS[rng.integers(0, len(_WORDS), int(n_words.sum()))]
    bounds = np.cumsum(n_words)[:-1]
    comment = [" ".join(w) for w in np.split(words, bounds)]
    return pd.DataFrame({
        "l_orderkey": ok.astype(np.int64),
        "l_partkey": rng.integers(1, 20_001, n_rows).astype(np.int64),
        "l_suppkey": rng.integers(1, 1_001, n_rows).astype(np.int64),
        "l_linenumber": ln,
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, n_rows) / 100.0,
        "l_tax": rng.integers(0, 9, n_rows) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_rows)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_rows)],
        "l_shipdate": pd.Series(ship),
        "l_comment": comment,
    })


def dml_plan(items: pd.DataFrame, seed: int) -> dict:
    """Seeded parameters of the fixed DML sequence (same seed, same ops)."""
    rng = np.random.default_rng([seed, 0xD41])
    days = np.sort(items["l_shipdate"].to_numpy())
    cut = days[int(len(days) * rng.uniform(0.02, 0.04))]
    keys = items[["l_orderkey", "l_linenumber"]].to_numpy()
    pick = rng.choice(len(items), 500, replace=False)
    upd = items.iloc[pick[:400]].copy()
    upd["l_quantity"] = upd["l_quantity"] + 1.0
    upd["l_comment"] = "merged " + upd["l_comment"]
    new = items.iloc[pick[400:]].copy()
    # unseen keys: past the largest generated order key
    new["l_orderkey"] = int(keys[:, 0].max()) + 1 + np.arange(len(new), dtype=np.int64)
    lookup = items["l_orderkey"].iat[int(rng.integers(len(items)))]
    return {
        "delete_before": pd.Timestamp(cut).to_pydatetime(),
        "dv_partkey_below": int(rng.integers(150, 250)),
        "update_discount": float(rng.integers(0, 11)) / 100.0,
        "merge_rows": pd.concat([upd, new], ignore_index=True),
        "lookup_key": int(lookup),
    }
