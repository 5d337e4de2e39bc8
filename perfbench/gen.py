"""Seeded input generator.

Everything a benchmark run feeds the engine is written here, from the
seed alone, into the run's work directory:

- the fixture tables (``region`` … ``embeddings``) as parquet, in the
  schemas the registry queries and ``io.sources.load_table`` expect;
- the order of the ``corpus_mix`` query set;
- the corpus query vectors.

The UNSW CSVs and the stream replay files are derived from the
``events`` table (``workloads.write_unsw``, ``workloads.write_replay``),
so they are seeded through it.  The same seed always gives the same
inputs.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a = np.datetime64(lo, "D")
    span = int((np.datetime64(hi, "D") - a).astype(int))
    return (a + rng.integers(0, span + 1, n).astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def make_tables(out_dir: str, seed: int, sizes: dict[str, int]) -> dict[str, int]:
    """Write the ten fixture tables; returns rows per table.

    ``sizes`` keys: customer, supplier, part, orders, lineitem, events,
    users, documents, embeddings.  Tables a workload does not need can
    be sized small; every table is always written because the registry
    queries and the oracle connection register all ten."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    p = lambda t: os.path.join(out_dir, f"{t}.parquet")  # noqa: E731
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    i64 = lambda a: pa.array(a, pa.int64())  # noqa: E731

    _write(p("region"), {
        "r_regionkey": i32(range(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(p("nation"), {
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": i32([k % 5 for k in range(25)]),
    })
    nc = sizes["customer"]
    _write(p("customer"), {
        "c_custkey": i64(range(nc)),
        "c_name": [f"Customer#{k:09d}" for k in range(nc)],
        "c_nationkey": i32(rng.integers(0, 25, nc)),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(
            ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"], nc
        ),
    })
    ns = sizes["supplier"]
    _write(p("supplier"), {
        "s_suppkey": i64(range(ns)),
        "s_name": [f"Supplier#{k:09d}" for k in range(ns)],
        "s_nationkey": i32(rng.integers(0, 25, ns)),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = sizes["part"]
    _write(p("part"), {
        "p_partkey": i64(range(npart)),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, npart), rng.choice(_NOUN, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], npart),
        "p_size": i32(rng.integers(1, 51, npart)),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2),
    })
    no = sizes["orders"]
    _write(p("orders"), {
        "o_orderkey": i64(range(no)),
        "o_custkey": i64(rng.integers(0, nc, no)),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no
        ),
    })
    nl = sizes["lineitem"]
    _write(p("lineitem"), {
        "l_orderkey": i64(rng.integers(0, no, nl)),
        "l_partkey": i64(rng.integers(0, npart, nl)),
        "l_suppkey": i64(rng.integers(0, ns, nl)),
        "l_linenumber": i32(rng.integers(1, 8, nl)),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
    })
    ne = sizes["events"]
    # strictly increasing event time over 30 days: replay files cut by
    # time range then keep cross-file order, so no watermark drops rows
    gaps = rng.exponential(1.0, ne) + 1e-3
    us = np.cumsum(gaps) / gaps.sum() * (30 * 86400 * 1e6 - 1e6)
    _write(p("events"), {
        "event_id": i64(range(ne)),
        "ts": pa.array(_EPOCH_2024 + us.astype("int64").astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": i64(rng.integers(0, sizes["users"], ne)),
        "event_type": rng.choice(["signup", "error", "click", "view", "purchase"], ne),
        "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
    })
    nd = sizes["documents"]
    texts: list[str] = []
    for k in range(nd):
        if k >= 10 and rng.random() < 0.05:
            # planted near-duplicate: an earlier document plus a marker
            texts.append(texts[int(rng.integers(0, k))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_VOCAB, int(rng.integers(10, 100)))))
    _write(p("documents"), {
        "doc_id": i64(range(nd)),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "de", "fr"], nd, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{k % 20}" for k in range(nd)],
        "n_chars": i64([len(t) for t in texts]),
    })
    nv = sizes["embeddings"]
    # embeddings cluster, as real ones do: a mixture around 32 centers
    vecs, cluster = mixture(rng, centers(seed), nv)
    for k in range(10, nv):
        if rng.random() < 0.05:
            # planted near-duplicate vector (cosine ~0.99 to its source)
            v = vecs[int(rng.integers(0, k))] + rng.standard_normal(64).astype("float32") * 0.015
            vecs[k] = v / np.linalg.norm(v)
    _write(p("embeddings"), {
        "vec_id": i64(range(nv)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": i32(cluster % 10),
    })
    return {
        "region": 5, "nation": 25, "customer": nc, "supplier": ns, "part": npart,
        "orders": no, "lineitem": nl, "events": ne, "documents": nd, "embeddings": nv,
    }


def unit_vectors(rng, n: int, dim: int) -> np.ndarray:
    v = rng.standard_normal((n, dim)).astype("float32")
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def centers(seed: int, k: int = 32, dim: int = 64) -> np.ndarray:
    return unit_vectors(np.random.default_rng(seed + 1), k, dim)


def mixture(rng, cents: np.ndarray, n: int, spread: float = 0.5):
    """Unit vectors scattered around randomly chosen centers (cosine to
    the center ~0.9); returns (vectors, center index)."""
    which = rng.integers(0, len(cents), n)
    noise = rng.standard_normal((n, cents.shape[1])).astype("float32") / np.sqrt(cents.shape[1])
    v = cents[which] + spread * noise
    return v / np.linalg.norm(v, axis=1, keepdims=True), which


def seeded_order(names, seed: int) -> list[str]:
    """The names in a seeded order."""
    rng = np.random.default_rng(seed + 7919)
    return [names[i] for i in rng.permutation(len(names))]


def corpus_queries(seed: int, n: int) -> list[list[float]]:
    """Seeded query vectors for the IVF top-k search, drawn from the
    corpus's own mixture."""
    vecs, _ = mixture(np.random.default_rng(seed + 104729), centers(seed), n)
    return [[float(x) for x in v] for v in vecs]


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs
    )
