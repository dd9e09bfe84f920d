"""Seeded input generators for the benchmark workloads.

Every workload reads one fixed base dataset whose CONTENT comes from a
fixed base seed; the run's ``--seed`` only permutes the ROW ORDER of
every table (and therefore which rows share a file and a Spark
partition). The outputs must not depend on row order, so one set of
expected checksums (``expected.json``) checks every seed, and an
order-dependent output shows up as a checksum mismatch.

Generation is plain numpy + pyarrow (no Spark, no JVM), runs once per
(input family, size, seed) and is cached under the work directory with a
manifest of row counts and file sha256 sums that is re-verified on
every reuse.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20250101
N_FILES = 4  # files per table: row order decides which rows share one

# --- transit: AFC journeys -------------------------------------------

# users, each with journeys of 1-3 legs across one month
TRANSIT_SIZES = {"full": 5_000, "warm": 300}
LEGS_PER_JOURNEY_P = (0.55, 0.30, 0.15)  # 1, 2, 3 legs
JOURNEYS_PER_USER_MEAN = 7.0
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])

# --- curate: documents -----------------------------------------------

CURATE_SIZES = {"full": 5_000, "warm": 300}  # docs; full = the sf0.1 corpus size
VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split()
)
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = (0.40, 0.15, 0.15, 0.15, 0.15)
N_SOURCES = 20
NEAR_DUP_SHARE = 0.05  # base text + " dup", as in the sf0.1 documents
EXACT_DUP_SHARE = 0.002

# --- graph: TPC-H-like trade tables ----------------------------------

# customers; suppliers = customers / 15, orders = 10 x customers
GRAPH_SIZES = {"full": 1_500, "warm": 60}
N_NATIONS = 25


def _rng(family: int) -> np.random.Generator:
    return np.random.default_rng([BASE_SEED, family])


def _ts_us(offset_s: np.ndarray) -> np.ndarray:
    """Seconds after 2024-01-01 00:00 as microsecond timestamps."""
    epoch = np.datetime64("2024-01-01", "us").astype(np.int64)
    return (epoch + (offset_s * 1_000_000).astype(np.int64)).astype("datetime64[us]")


def transit_tables(n_users: int) -> tuple[dict[str, pa.Table], dict]:
    """`events` shaped like the testdata stream table, built so that
    `transit_common.afc_legs_from_events` (30-minute gap rule) turns
    each user's events into 1-3-leg journeys: legs of one journey are
    12-25 minutes apart, journeys of one user start in distinct
    4-hour slots of January 2024."""
    rng = _rng(1)
    n_j = np.maximum(1, rng.poisson(JOURNEYS_PER_USER_MEAN, n_users))
    slots_per_month = 31 * 6
    j_user = np.repeat(np.arange(n_users), n_j)
    # distinct slots per user: random start + stride coprime to 186
    start = rng.integers(0, slots_per_month, n_users)
    stride = rng.choice([5, 7, 11, 13, 17, 19, 23], n_users)
    j_rank = np.arange(len(j_user)) - np.repeat(np.cumsum(n_j) - n_j, n_j)
    slot = (start[j_user] + stride[j_user] * j_rank) % slots_per_month
    j_start = slot * 4 * 3600 + rng.integers(0, 3600, len(j_user))
    n_legs = rng.choice([1, 2, 3], len(j_user), p=LEGS_PER_JOURNEY_P)
    leg_j = np.repeat(np.arange(len(j_user)), n_legs)
    leg_k = np.arange(len(leg_j)) - np.repeat(np.cumsum(n_legs) - n_legs, n_legs)
    gaps = rng.integers(12 * 60, 25 * 60, len(leg_j))
    ts_s = j_start[leg_j] + leg_k * gaps
    order = np.lexsort((ts_s, j_user[leg_j]))
    ts_s, user = ts_s[order], j_user[leg_j][order]
    chrono = np.argsort(ts_s, kind="stable")  # event ids in time order
    n = len(ts_s)
    event_id = np.empty(n, dtype=np.int64)
    event_id[chrono] = np.arange(n)
    value = np.round(rng.uniform(0.5, 150.0, n), 2)
    events = pa.table(
        {
            "event_id": event_id,
            "ts": pa.array(
                _ts_us(ts_s + rng.integers(0, 1_000_000, n) / 1e6),
                pa.timestamp("us", tz="UTC"),
            ),
            "user_id": user.astype(np.int64),
            "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
            "value": value,
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )
    props = {
        "legs": n,
        "users": int(n_users),
        "journeys": int(len(j_user)),
        "multi_leg_journey_share": round(float(np.mean(n_legs > 1)), 4),
    }
    return {"events": events}, props


def curate_tables(n_docs: int) -> tuple[dict[str, pa.Table], dict]:
    """`documents` shaped like the testdata corpus: word salad over the
    same 30-word vocabulary, 10-100 words, 20 round-robin sources, 40%
    English; 5% near duplicates (another doc's text + " dup") and 0.2%
    exact duplicates, the sf0.1 shares."""
    rng = _rng(2)
    lengths = rng.integers(10, 101, n_docs)
    words = VOCAB[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[bounds[i] : bounds[i + 1]]) for i in range(n_docs)]
    n_near = int(n_docs * NEAR_DUP_SHARE)
    n_exact = int(n_docs * EXACT_DUP_SHARE)
    picks = rng.choice(n_docs, n_near + n_exact, replace=False)
    sources = rng.integers(0, n_docs, n_near + n_exact)
    for k, (dst, src) in enumerate(zip(picks, sources)):
        if dst != src:
            texts[dst] = texts[src] + (" dup" if k < n_near else "")
    docs = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": LANGS[rng.choice(5, n_docs, p=LANG_P)],
            "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    props = {
        "docs": n_docs,
        "near_dup_share": NEAR_DUP_SHARE,
        "exact_dup_share": EXACT_DUP_SHARE,
    }
    return {"documents": docs}, props


def graph_tables(n_cust: int) -> tuple[dict[str, pa.Table], dict]:
    """orders / lineitem / supplier / customer / nation / region with
    the testdata's shapes: ~4 lines per order, uniform customer and
    supplier keys, 25 nations over 5 regions."""
    rng = _rng(3)
    n_supp = max(10, n_cust // 15)
    n_orders = n_cust * 10
    n_lines = rng.integers(1, 8, n_orders)
    n_li = int(n_lines.sum())
    base_day = np.datetime64("1995-01-01", "D")
    odate = base_day + rng.integers(0, 7 * 365, n_orders)
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_orders)],
            "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
            "o_orderdate": pa.array(odate.astype("datetime64[us]"), pa.timestamp("us")),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[rng.integers(0, 5, n_orders)],
        }
    )
    l_order = np.repeat(np.arange(n_orders), n_lines)
    l_line = np.arange(n_li) - np.repeat(np.cumsum(n_lines) - n_lines, n_lines) + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": l_order.astype(np.int64),
            "l_partkey": rng.integers(0, n_cust * 4 // 3, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": l_line.astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
            "l_shipdate": pa.array(
                (odate[l_order] + rng.integers(1, 122, n_li)).astype("datetime64[us]"),
                pa.timestamp("us"),
            ),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, N_NATIONS, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    customer = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, N_NATIONS, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": np.array(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
            )[rng.integers(0, 5, n_cust)],
        }
    )
    nation = pa.table(
        {
            "n_nationkey": np.arange(N_NATIONS, dtype=np.int32),
            "n_name": [f"NATION{i:02d}" for i in range(N_NATIONS)],
            "n_regionkey": (np.arange(N_NATIONS) % 5).astype(np.int32),
        }
    )
    region = pa.table(
        {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    tables = {
        "orders": orders,
        "lineitem": lineitem,
        "supplier": supplier,
        "customer": customer,
        "nation": nation,
        "region": region,
    }
    props = {
        "customers": n_cust,
        "suppliers": n_supp,
        "orders": n_orders,
        "lineitems": n_li,
    }
    return tables, props


GENERATORS = {
    "transit": (transit_tables, TRANSIT_SIZES),
    "curate": (curate_tables, CURATE_SIZES),
    "graph": (graph_tables, GRAPH_SIZES),
}


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _verify(out_dir: str, manifest: dict) -> bool:
    for rel, (rows, digest) in manifest["files"].items():
        path = os.path.join(out_dir, rel)
        if not os.path.isfile(path):
            return False
        if pq.ParquetFile(path).metadata.num_rows != rows or _sha256(path) != digest:
            return False
    return True


def materialize(kind: str, size: str, seed: int, root: str) -> tuple[str, dict]:
    """Write (or verify and reuse) the `kind` tables at `size` ("full"
    or "warm") with rows permuted by `seed`; returns (directory,
    properties). Each table is a directory of N_FILES parquet files;
    the `sf_dir/<t>.parquet` layout is what the registry loader
    expects."""
    # the generator's own source is part of the key: editing it
    # invalidates every cached input
    rev = _sha256(os.path.abspath(__file__))[:12]
    out_dir = os.path.join(root, f"{kind}-{size}-seed{seed}-{rev}")
    mpath = os.path.join(out_dir, "manifest.json")
    if os.path.isfile(mpath):
        with open(mpath) as f:
            manifest = json.load(f)
        if _verify(out_dir, manifest):
            return out_dir, manifest["props"]
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    gen, sizes = GENERATORS[kind]
    tables, props = gen(sizes[size])
    perm_rng = np.random.default_rng(seed)
    files = {}
    for name, table in tables.items():
        table = table.take(pa.array(perm_rng.permutation(table.num_rows)))
        os.makedirs(os.path.join(out_dir, f"{name}.parquet"))
        for i, part in enumerate(np.array_split(np.arange(table.num_rows), N_FILES)):
            rel = f"{name}.parquet/chunk-{i}.parquet"
            path = os.path.join(out_dir, rel)
            pq.write_table(table.take(pa.array(part)), path)
            files[rel] = [len(part), _sha256(path)]
    props["rows"] = {name: t.num_rows for name, t in tables.items()}
    with open(mpath, "w") as f:
        json.dump({"files": files, "props": props}, f, indent=1, sort_keys=True)
    return out_dir, props
