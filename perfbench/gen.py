"""Seeded input generator. The program under test only ever sees the
parquet files written here; the same seed always writes the same bytes
of data (row content and order).

Three input sets:

- ``events_table``: the bulk event table the export workloads sync.
  Zipf ``user_id``, 30 days of ``ts`` in time order, and about 1% of
  ``event_type`` null or empty so the non-null filter drops rows.
- ``versioned_inputs``: a base snapshot keyed by ``k`` plus one change
  set per tick with exactly ``updates`` / ``inserts`` / ``deletes`` rows.
- ``analytics_tables``: the ten-table star schema the query library
  reads (TPC-H-like dimensions and facts plus ``events``,
  ``documents`` and ``embeddings``), scaled by ``sf``.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
EVENTS_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000
EVENT_DAYS = 30


def _write(table: pa.Table, path: str, row_group_size: int = 131_072) -> None:
    pq.write_table(table, path, row_group_size=row_group_size)


def _zipf_ids(rng: np.random.Generator, n: int, n_ids: int, a: float) -> np.ndarray:
    weights = 1.0 / np.arange(1, n_ids + 1, dtype=np.float64) ** a
    ids = rng.choice(n_ids, size=n, p=weights / weights.sum())
    # scatter the ranks so the heavy keys are not the smallest ids
    return rng.permutation(n_ids)[ids].astype(np.int64)


def events_frame(
    rng: np.random.Generator, n: int, n_users: int, *, zipf_a: float | None
) -> dict[str, np.ndarray]:
    ts = np.sort(EVENTS_EPOCH_US + rng.integers(0, EVENT_DAYS * DAY_US, n))
    if zipf_a is None:
        users = rng.integers(0, n_users, n).astype(np.int64)
    else:
        users = _zipf_ids(rng, n, n_users, zipf_a)
    # event_type codes: 0..4 pick a type, 5 is empty, 6 is NULL (~1%)
    etype = rng.integers(0, len(EVENT_TYPES), n)
    hole = rng.random(n)
    etype[hole < 0.005] = len(EVENT_TYPES) + 1
    etype[(hole >= 0.005) & (hole < 0.01)] = len(EVENT_TYPES)
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": users,
        "event_type": etype,
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": rng.integers(0, 100, n),
    }


_TYPE_DICT = pa.array([*EVENT_TYPES, "", None], type=pa.string())
_PROPS_DICT = pa.array([f'{{"k": {i}}}' for i in range(100)], type=pa.string())


def _events_table(cols: dict[str, np.ndarray]) -> pa.Table:
    return pa.table(
        {
            "event_id": pa.array(cols["event_id"]),
            "ts": pa.array(cols["ts"], type=pa.timestamp("us")),
            "user_id": pa.array(cols["user_id"]),
            "event_type": _TYPE_DICT.take(pa.array(cols["event_type"])),
            "value": pa.array(cols["value"]),
            "props": _PROPS_DICT.take(pa.array(cols["props"])),
        }
    )


def events_table(out_dir: str, seed: int, n_rows: int, n_files: int = 8) -> dict:
    """Write the bulk event table as ``n_files`` time-ordered parquet
    files under ``out_dir``; return its shape for the workloads."""
    rng = np.random.default_rng([seed, 1])
    cols = events_frame(rng, n_rows, max(1000, n_rows // 40), zipf_a=1.1)
    table = _events_table(cols)
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, n_rows, n_files + 1).astype(int)
    for i in range(n_files):
        _write(
            table.slice(bounds[i], bounds[i + 1] - bounds[i]),
            os.path.join(out_dir, f"part-{i:03d}.parquet"),
        )
    return {
        "path": out_dir,
        "rows": n_rows,
        "epoch_us": EVENTS_EPOCH_US,
        "hours": EVENT_DAYS * 24,
    }


def _versioned_rows(rng: np.random.Generator, keys: np.ndarray, rev: int) -> pa.Table:
    n = len(keys)
    return pa.table(
        {
            "k": pa.array(keys.astype(np.int64)),
            "name": pa.array(np.char.add("item-", keys.astype(str))),
            "segment": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
            "amount": pa.array(np.round(rng.uniform(0, 1000, n), 2)),
            "rev": pa.array(np.full(n, rev, dtype=np.int64)),
        }
    )


def versioned_inputs(
    out_dir: str,
    seed: int,
    n_rows: int,
    n_ticks: int,
    *,
    updates: int,
    inserts: int,
    deletes: int,
) -> dict:
    """Base snapshot ``base.parquet`` plus ``tick-NNNN/{upserts,deletes}``
    change sets. Every update changes ``rev``, so each one is a real
    content change; updated and deleted keys are live and distinct
    within a tick."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    live = np.arange(n_rows, dtype=np.int64)
    _write(_versioned_rows(rng, live, 0), os.path.join(out_dir, "base.parquet"))
    next_key = n_rows
    ticks = []
    for t in range(1, n_ticks + 1):
        picked = rng.choice(len(live), size=updates + deletes, replace=False)
        upd_keys = live[picked[:updates]]
        del_keys = live[picked[updates:]]
        ins_keys = np.arange(next_key, next_key + inserts, dtype=np.int64)
        next_key += inserts
        tdir = os.path.join(out_dir, f"tick-{t:04d}")
        os.makedirs(tdir, exist_ok=True)
        upserts = _versioned_rows(rng, np.concatenate([upd_keys, ins_keys]), t)
        _write(upserts, os.path.join(tdir, "upserts.parquet"))
        _write(pa.table({"k": pa.array(del_keys)}), os.path.join(tdir, "deletes.parquet"))
        live = np.concatenate([np.delete(live, picked[updates:]), ins_keys])
        ticks.append(
            {
                "dir": tdir,
                "updates": updates,
                "inserts": inserts,
                "deletes": deletes,
                "live_rows": int(len(live)),
            }
        )
    meta = {"base": os.path.join(out_dir, "base.parquet"), "rows": n_rows, "ticks": ticks}
    with open(os.path.join(out_dir, "inputs.json"), "w") as f:
        json.dump(meta, f)
    return meta


# --- analytics star schema -------------------------------------------

_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PART_ADJ = np.array(["blue", "old", "small", "new", "large", "hot", "cold", "red"])
_PART_NOUN = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"])
_PART_TYPES = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_WORDS = np.array(
    (
        "spark window merge table column vector stream value data small join "
        "filter big group hash customer sort order slow line part fast row "
        "the agg key query a scan batch"
    ).split()
)
_LANGS = np.array(["en", "de", "es", "fr", "zh"])
_LANG_P = np.array([0.41, 0.14, 0.15, 0.15, 0.15])
_DATE_LO_US = 788_918_400_000_000  # 1995-01-01
_DATE_SPAN_DAYS = 2404  # through 2001-08-01


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = _WORDS[rng.integers(0, len(_WORDS), int(lengths.sum()))]
    splits = np.cumsum(lengths)[:-1]
    texts = [" ".join(ws) for ws in np.split(words, splits)]
    # ~5% near-duplicates (an earlier document plus a marker word) and a
    # handful of exact copies, so the dedup families find pairs
    for i in range(1, n):
        r = rng.random()
        if r < 0.05:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
        elif r < 0.052:
            texts[i] = texts[int(rng.integers(0, i))]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(_LANGS[rng.choice(len(_LANGS), n, p=_LANG_P)]),
            "source": pa.array(np.char.add("src", rng.integers(0, 20, n).astype(str))),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0, 1, (10, dim))
    vecs = centers[labels] + rng.normal(0, 1.5, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def analytics_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write ``<name>.parquet`` for the ten tables the query library
    reads; return the row count of each."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(_REGIONS),
        }
    )
    nk = np.arange(25, dtype=np.int32)
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(nk),
            "n_name": pa.array([f"NATION_{i}" for i in nk]),
            "n_regionkey": pa.array((nk % 5).astype(np.int32)),
        }
    )
    ck = np.arange(n_cust, dtype=np.int64)
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(ck),
            "c_name": pa.array([f"Customer#{i:09d}" for i in ck]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(_SEGMENTS[rng.integers(0, 5, n_cust)]),
        }
    )
    sk = np.arange(n_supp, dtype=np.int64)
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(sk),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in sk]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(pk),
            "p_name": pa.array(
                np.char.add(
                    np.char.add(_PART_ADJ[rng.integers(0, 8, n_part)], " "),
                    _PART_NOUN[rng.integers(0, 8, n_part)],
                )
            ),
            "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
            "p_type": pa.array(_PART_TYPES[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 2)),
        }
    )
    ok = np.arange(n_ord, dtype=np.int64)
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(ok),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
            "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": pa.array(
                _DATE_LO_US + rng.integers(0, _DATE_SPAN_DAYS + 1, n_ord) * DAY_US,
                type=pa.timestamp("us"),
            ),
            "o_orderpriority": pa.array(_PRIORITIES[rng.integers(0, 5, n_ord)]),
        }
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
            "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_line)]),
            "l_shipdate": pa.array(
                _DATE_LO_US + rng.integers(1, _DATE_SPAN_DAYS + 96, n_line) * DAY_US,
                type=pa.timestamp("us"),
            ),
        }
    )
    ev = events_frame(rng, int(1_000_000 * sf), max(100, int(15_000 * sf)), zipf_a=None)
    ev["event_type"] %= len(EVENT_TYPES)  # the library's events have no holes
    tables["events"] = _events_table(ev)
    tables["documents"] = _documents(rng, max(200, int(50_000 * sf)))
    tables["embeddings"] = _embeddings(rng, max(200, int(20_000 * sf)))
    counts = {}
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
