"""Seeded benchmark inputs.

Everything here derives from the workload seed and nothing else, so the
same seed always gives byte-identical inputs:

- ``write_csv_dir``: the reference pipeline's input, a directory of CSV
  files whose column names contain spaces and whose ``Data Value``
  column has ~2% empty cells (the rows ``clean`` must drop). The
  expected survivor count is returned for the output checks.
- ``write_tables``: a TPC-H-like star schema plus ``events``,
  ``documents`` and ``embeddings``, one parquet file per table under
  ``<dir>/<name>.parquet`` (the layout the registry queries and the
  DuckDB oracle read).
- ``write_change_feed``: the orders I/U/D change log the CDC registry
  queries and their oracle describe, split into micro-batch files at
  seeded cut points.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CSV_COLUMNS = (
    "Unique ID",
    "Indicator ID",
    "Name",
    "Measure",
    "Geo Type Name",
    "Geo Place Name",
    "Time Period",
    "Start_Date",
    "Data Value",
)
_NAMES = ("Nitrogen dioxide (NO2)", "Fine particles (PM 2.5)", "Ozone (O3)",
          "Sulfur dioxide (SO2)", "Asthma emergency visits")
_MEASURES = ("Mean", "Estimated annual rate", "Number per km2")
_GEO_TYPES = ("CD", "UHF42", "UHF34", "Borough", "Citywide")
_PERIODS = tuple(f"Annual Average {y}" for y in range(2009, 2023)) + tuple(
    f"Winter {y}-{(y + 1) % 100:02d}" for y in range(2009, 2022)
)


def write_csv_dir(out_dir: str, seed: int, rows: int, files: int = 8,
                  empty_share: float = 0.02) -> dict:
    """Write ``rows`` rows split over ``files`` CSV files; return the
    file count, byte size and the number of rows without an empty cell."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    survivors = 0
    total_bytes = 0
    bounds = np.linspace(0, rows, files + 1).astype(int)
    for i in range(files):
        n = int(bounds[i + 1] - bounds[i])
        uid = np.arange(bounds[i], bounds[i + 1]) + 100_000
        ind = rng.integers(300, 700, n)
        name = rng.integers(0, len(_NAMES), n)
        measure = rng.integers(0, len(_MEASURES), n)
        geo = rng.integers(0, len(_GEO_TYPES), n)
        place = rng.integers(1, 60, n)
        period = rng.integers(0, len(_PERIODS), n)
        month = rng.integers(1, 13, n)
        year = rng.integers(2009, 2023, n)
        value = np.round(rng.gamma(2.0, 12.0, n), 2)
        empty = rng.random(n) < empty_share
        survivors += int(n - empty.sum())
        lines = [",".join(f'"{c}"' if " " in c else c for c in CSV_COLUMNS)]
        for j in range(n):
            lines.append(
                f"{uid[j]},{ind[j]},{_NAMES[name[j]]},{_MEASURES[measure[j]]},"
                f"{_GEO_TYPES[geo[j]]},Place {place[j]},{_PERIODS[period[j]]},"
                f"{month[j]:02d}/01/{year[j]},{'' if empty[j] else value[j]}"
            )
        path = os.path.join(out_dir, f"part-{i:02d}.csv")
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        total_bytes += os.path.getsize(path)
    return {"files": files, "rows": rows, "bytes": total_bytes, "survivors": survivors}


_EPOCH = dt.datetime(1995, 1, 1)
_WORDS = ("a the row key agg scan slow fast table value part hash merge batch "
          "spark line sort window data column join small big order group "
          "filter query stream vector customer").split()
_LANGS = ("en", "en", "en", "es", "zh", "de", "fr")


def _days(rng, n: int, lo: int, hi: int) -> np.ndarray:
    return (np.datetime64(_EPOCH, "us")
            + rng.integers(lo, hi, n).astype("timedelta64[D]")).astype("datetime64[us]")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, seed: int, orders: int = 15_000, docs: int = 500,
                 vectors: int = 500) -> dict:
    """Write the ten query tables; return their row counts."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = orders // 10, max(orders // 150, 25), orders * 2 // 15
    n_line = orders * 4

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = np.array(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"])
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj = np.array(["small", "red", "blue", "hot", "old", "large", "green", "cold"])
    noun = np.array(["ring", "widget", "bolt", "gear", "gizmo", "plate", "nut", "pipe"])
    ptypes = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptypes[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, orders), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, orders)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, orders), 2),
        "o_orderdate": _days(rng, orders, 0, 2404),
        "o_orderpriority": prios[rng.integers(0, 5, orders)],
    })
    qty = rng.integers(1, 51, n_line).astype(float)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, orders, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, 1, 2499),
    })
    n_ev = orders * 2 // 3
    ev_ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us")
                       + ev_ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": np.array(["click", "signup", "error", "view", "purchase"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(docs):
        if i >= 20 and rng.random() < 0.06:
            # near-duplicate of an earlier document: one word swapped
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = str(words[rng.integers(0, len(words))])
        else:
            toks = list(words[rng.integers(0, len(words), int(rng.integers(10, 100)))])
        texts.append(" ".join(toks))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(docs), pa.int64()),
        "text": texts,
        "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), docs)],
        "source": [f"src{i % 20}" for i in range(docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, vectors)
    vecs = centers[labels] + rng.normal(0.0, 0.6, (vectors, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True) * 0.9).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(vectors), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return {"orders": orders, "lineitem": n_line, "documents": docs, "embeddings": vectors}


def write_change_feed(tables_dir: str, out_dir: str, seed: int, files: int) -> list[str]:
    """Write the orders change log (every order INSERTs at seq 1, every
    5th key UPDATEs its total price *1.1 at seq 2, every 7th key DELETEs
    at seq 3; operators/cdc.synthetic_change_feed) as ``files`` parquet
    files cut at seeded points near equal shares. Rows are in (seq, key)
    order, so a key's later change always lands in a later file, which
    the streaming merge sink requires."""
    rng = np.random.default_rng([seed, 4])
    o = pq.read_table(os.path.join(tables_dir, "orders.parquet"),
                      columns=["o_orderkey", "o_orderstatus", "o_totalprice"])
    key = o.column("o_orderkey").to_numpy()
    parts = []
    for seq, op, keep, scale in ((1, "I", None, 1.0), (2, "U", 5, 1.1), (3, "D", 7, 1.0)):
        t = o if keep is None else o.filter(pa.array(key % keep == 0))
        t = t.sort_by("o_orderkey")
        if scale != 1.0:
            t = t.set_column(2, "o_totalprice",
                             pa.array(t.column("o_totalprice").to_numpy() * scale))
        n = t.num_rows
        t = t.append_column("seq", pa.array(np.full(n, seq, np.int32)))
        parts.append(t.append_column("op", pa.array([op] * n)))
    feed = pa.concat_tables(parts)
    n = feed.num_rows
    edges = np.linspace(0, n, files + 1)[1:-1] + rng.uniform(-0.05, 0.05, files - 1) * (n / files)
    cuts = [0, *sorted(int(e) for e in edges), n]
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for j in range(files):
        p = os.path.join(out_dir, f"part-{j:03d}.parquet")
        pq.write_table(feed.slice(cuts[j], cuts[j + 1] - cuts[j]), p)
        paths.append(p)
    return paths
