"""Seeded input generators. The same seed gives byte-identical inputs.

Everything here is numpy/pandas/pyarrow: inputs reach the package as plain
parquet files or pandas frames, so generating them costs no Spark job.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Start of the reference's dataset window and its historical window hop
# (BASELINE.md: dataset time span; historical window hop).
T0 = np.datetime64("2024-02-29T23:59:00", "us")
HOP_WINDOW_S = 6 * 3600
WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key big fast query sort group window "
    "spark stream part a the and"
).split()
# Assumed mix (no published figure is used): a select majority, as
# FIXTURES.md asks, with enough insert/copy that every table is ingested
# several times per hop and selects fall between its ingestions.
QUERY_TYPES = ("select", "insert", "copy", "update", "delete")
QUERY_TYPE_P = (0.55, 0.15, 0.10, 0.15, 0.05)
# Planted embedding clusters: size, and per-coordinate noise around the
# cluster direction (64 dims: pairwise cosine about 0.9 inside a cluster).
CLUSTER_SIZE = 4
CLUSTER_NOISE = 0.04


# ---------------------------------------------------------------------------
# Redset log (schema.REDSET_SCHEMA)
# ---------------------------------------------------------------------------


def redset_log(
    seed: int, hops: int, rows_per_hop: int, instances: int = 4, tables: int = 12
) -> pd.DataFrame:
    """A Redset-shaped query log sorted by arrival: several instances and
    users, CSV table-id lists, and a mix of select/insert/copy/update/delete.
    Hop ``h`` holds ``rows_per_hop`` rows arriving at distinct whole seconds
    inside the ``h``-th 6 h window after ``T0``. ``execution_duration_ms``
    is distinct per row, so a top-k over it is a set with no ties."""
    rng = np.random.default_rng(seed)
    rows = hops * rows_per_hop
    qtype = rng.choice(QUERY_TYPES, rows, p=QUERY_TYPE_P)
    secs = np.concatenate(
        [
            h * HOP_WINDOW_S + np.sort(rng.choice(HOP_WINDOW_S, rows_per_hop, replace=False))
            for h in range(hops)
        ]
    )
    arrival = T0 + (secs * 1_000_000).astype("timedelta64[us]")
    tid = rng.integers(1, tables + 1, (rows, 3))
    n_read = rng.integers(1, 4, rows)
    reads = [
        ",".join(str(t) for t in tid[i, : n_read[i]]) if q == "select" else "[]"
        for i, q in enumerate(qtype)
    ]
    writes = [str(tid[i, 0]) if q != "select" else "[]" for i, q in enumerate(qtype)]
    return pd.DataFrame(
        {
            "instance_id": rng.integers(1, instances + 1, rows),
            "cluster_size": rng.integers(1, 9, rows).astype("float64"),
            "user_id": rng.integers(1, 41, rows),
            "database_id": rng.integers(1, 4, rows),
            "query_id": np.arange(rows, dtype="int64"),
            "arrival_timestamp": arrival,
            "compile_duration_ms": np.round(rng.uniform(10, 90_000, rows), 2),
            "queue_duration_ms": rng.integers(0, 5_000, rows),
            "execution_duration_ms": rng.choice(10_000_000, rows, replace=False).astype(
                "int64"
            ),
            "feature_fingerprint": rng.choice(["f1", "f2", "f3"], rows),
            "was_aborted": rng.random(rows) < 0.05,
            "was_cached": rng.random(rows) < 0.2,
            "cache_source_query_id": np.full(rows, -1.0),
            "query_type": qtype,
            "num_permanent_tables_accessed": n_read.astype("float64"),
            "num_external_tables_accessed": np.zeros(rows),
            "num_system_tables_accessed": rng.integers(0, 3, rows).astype("float64"),
            "read_table_ids": reads,
            "write_table_ids": writes,
            "mbytes_scanned": np.round(rng.uniform(0, 1000, rows), 1),
            "mbytes_spilled": np.zeros(rows),
            "num_joins": rng.integers(0, 10, rows),
            "num_scans": rng.integers(0, 20, rows),
            "num_aggregations": rng.integers(0, 8, rows),
        }
    )


def write_parquet(pdf: pd.DataFrame, path: str, utc: bool = False) -> None:
    """Write atomically (temp file + rename), so a file-stream source never
    lists a half-written file. ``utc`` stores timestamps as UTC instants
    (Spark TIMESTAMP); otherwise as naive µs, the encoding of the
    registry's test tables."""
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    if utc:
        table = table.cast(
            pa.schema(
                [
                    pa.field(f.name, pa.timestamp("us", tz="UTC"))
                    if pa.types.is_timestamp(f.type)
                    else f
                    for f in table.schema
                ]
            )
        )
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)


# ---------------------------------------------------------------------------
# Documents with planted near-copies
# ---------------------------------------------------------------------------


def doc_texts(rng: np.random.Generator, n: int, lo: int = 10, hi: int = 100) -> list[str]:
    lens = rng.integers(lo, hi, n)
    return [" ".join(rng.choice(WORDS, k)) for k in lens]


def near_copy(rng: np.random.Generator, text: str) -> str:
    """One extra word at the end: 5-gram Jaccard with the original stays
    above 0.85 for every text of 10+ words, far over the 0.5 threshold."""
    return f"{text} {rng.choice(WORDS)}"


def documents(seed: int, n: int, dup_share: float = 0.05) -> pd.DataFrame:
    """The registry's ``documents`` table: random texts over a small
    vocabulary, with ``dup_share`` of them near-copies of earlier ones."""
    rng = np.random.default_rng(seed)
    texts = doc_texts(rng, n)
    for i in np.flatnonzero(rng.random(n) < dup_share):
        if i:
            texts[i] = near_copy(rng, texts[rng.integers(0, i)])
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "text": texts,
            "lang": rng.choice(["en", "zh", "es", "de", "fr"], n, p=[0.44, 0.15, 0.15, 0.14, 0.12]),
            "source": [f"src{i}" for i in rng.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


# ---------------------------------------------------------------------------
# The registry's star schema (region .. embeddings), at a chosen scale
# ---------------------------------------------------------------------------


def _dates(rng, n, lo="1995-01-01", hi="2001-08-01"):
    days = (np.datetime64(hi) - np.datetime64(lo)).astype(int)
    return np.datetime64(lo, "us") + rng.integers(0, days, n).astype("timedelta64[D]")


def registry_tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """The tables ``tables.TABLE_NAMES`` names, with the row counts of the
    TPC-H-style scale factor ``sf`` and the value domains of the registry's
    test data."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec = int(50_000 * sf), int(50_000 * sf)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    t = {}
    t["region"] = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype="int32"),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(
                ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"], n_cust
            ),
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }
    )
    adj = ["small", "red", "blue", "hot", "old", "large", "cold", "green"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "nut", "spring"]
    t["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(adj, n_part), rng.choice(noun, n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
            "o_totalprice": money(1000, 500_000, n_ord),
            "o_orderdate": _dates(rng, n_ord),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }
    )
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
            "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": money(900, 105_000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["R", "A", "N"], n_line),
            "l_linestatus": rng.choice(["O", "F"], n_line),
            "l_shipdate": _dates(rng, n_line, hi="2001-11-05"),
        }
    )
    ev_ts = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": np.datetime64("2024-01-01", "us") + ev_ts.astype("timedelta64[us]"),
            "user_id": rng.integers(0, 150, n_ev),
            "event_type": rng.choice(["signup", "error", "click", "view", "purchase"], n_ev),
            "value": np.maximum(np.round(rng.exponential(50, n_ev), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = documents(seed + 1, n_doc)
    t["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_vec, dtype="int64"),
            "embedding": list(embeddings(rng, n_vec)),
            "label": rng.integers(0, 10, n_vec).astype("int32"),
        }
    )
    return t


def embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> np.ndarray:
    """Unit vectors with planted near-duplicate clusters: half of them in
    clusters of CLUSTER_SIZE around one direction (pairwise cosine about
    0.9), the rest alone on a direction of their own. The directions are
    the axes of a seeded orthonormal basis and their negatives, so vectors
    of different directions stay far below the registry's 0.35 near-dup
    threshold. Every near-dup component the LSH blocking can find is then a
    clique inside one cluster, and the connected-components loop runs the
    same number of rounds for every seed; with independent random vectors
    it found a seed-dependent handful of chance pairs, and took half as
    long on a seed that found none."""
    n_clusters = n // 2 // CLUSTER_SIZE
    group = np.concatenate(
        [
            np.repeat(np.arange(n_clusters), CLUSTER_SIZE),
            np.arange(n_clusters, n - n_clusters * (CLUSTER_SIZE - 1)),
        ]
    )
    basis = np.linalg.qr(rng.standard_normal((dim, dim)))[0]
    directions = np.concatenate([basis, -basis])
    if group[-1] >= len(directions):
        raise ValueError(f"{n} vectors need more than {len(directions)} directions")
    vecs = directions[rng.permutation(len(directions))[group]] + rng.normal(0, CLUSTER_NOISE, (n, dim))
    vecs = vecs[rng.permutation(n)]
    return (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")


def write_registry_tables(tables: dict[str, pd.DataFrame], sf_dir: str) -> dict[str, int]:
    os.makedirs(sf_dir, exist_ok=True)
    for name, pdf in tables.items():
        write_parquet(pdf, os.path.join(sf_dir, f"{name}.parquet"))
    return {name: len(pdf) for name, pdf in tables.items()}
