"""Seeded input generation for the benchmark.

Two input families, both a pure function of ``seed``:

* :func:`write_tables` writes the ten TPC-H-ish tables the registered
  queries read (``region`` ... ``embeddings``), one parquet file each,
  with the column names, types and value domains of the package's
  documented test data (FIXTURES.md Family A). Row counts scale with
  ``sf`` the same way: lineitem is 6,000,000 x sf.
* :func:`inventory` builds the camera inventory, lease list and ACL for
  the ETL workload in the reference's API shapes: about 10% of cameras
  are listed again on a later page with newer fields, and half the
  sites are granted.

Everything is vectorised numpy so sf0.1 generates in about a second.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def table_rows(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf``."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us, pa.timestamp("us"))


def _documents(rng, n: int) -> pa.Table:
    n_words = rng.integers(10, 100, n)
    words = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in n_words]
    # ~5% near-duplicates: another document's text plus a marker word,
    # so the dedup operators have real candidate pairs to find
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, 64 * n + 1, 64, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The ten tables at scale ``sf``, a pure function of ``seed``."""
    rng = np.random.default_rng([seed, int(sf * 1_000_000)])
    rows = table_rows(sf)
    n_cust, n_supp, n_part = rows["customer"], rows["supplier"], rows["part"]
    n_ord, n_li, n_ev = rows["orders"], rows["lineitem"], rows["events"]
    i32 = np.int32
    out = {
        "region": pa.table(
            {"r_regionkey": pa.array(np.arange(5, dtype=i32)),
             "r_name": pa.array(REGIONS, pa.string())}
        ),
        "nation": pa.table(
            {"n_nationkey": pa.array(np.arange(25, dtype=i32)),
             "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
             "n_regionkey": pa.array(np.arange(25, dtype=i32) % 5)}
        ),
        "customer": pa.table(
            {"c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
             "c_name": _names("Customer", n_cust),
             "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(i32)),
             "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
             "c_mktsegment": _pick(rng, SEGMENTS, n_cust)}
        ),
        "supplier": pa.table(
            {"s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
             "s_name": _names("Supplier", n_supp),
             "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(i32)),
             "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))}
        ),
        "part": pa.table(
            {"p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
             "p_name": pa.array(
                 [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                  rng.integers(0, 8, (n_part, 2))], pa.string()),
             "p_brand": pa.array(
                 [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                 pa.string()),
             "p_type": _pick(rng, PART_TYPES, n_part),
             "p_size": pa.array(rng.integers(1, 51, n_part).astype(i32)),
             "p_retailprice": pa.array(
                 np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1))}
        ),
        "orders": pa.table(
            {"o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
             "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
             "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
             "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
             "o_orderdate": _ts(
                 _EPOCH_1995 + rng.integers(0, 2404, n_ord) * _DAY_US),
             "o_orderpriority": _pick(rng, PRIORITIES, n_ord)}
        ),
        "lineitem": pa.table(
            {"l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
             "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
             "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
             "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(i32)),
             "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float)),
             "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_li)),
             "l_discount": pa.array(_money(rng, 0.0, 0.1, n_li)),
             "l_tax": pa.array(_money(rng, 0.0, 0.08, n_li)),
             "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
             "l_linestatus": _pick(rng, ["F", "O"], n_li),
             "l_shipdate": _ts(
                 _EPOCH_1995 + rng.integers(1, 2499, n_li) * _DAY_US)}
        ),
        "events": pa.table(
            {"event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
             "ts": _ts(_EPOCH_2024 + np.sort(
                 rng.integers(0, 30 * _DAY_US, n_ev))),
             "user_id": pa.array(
                 rng.integers(0, max(1, round(15_000 * sf)), n_ev)),
             "event_type": _pick(rng, EVENT_TYPES, n_ev),
             "value": pa.array(np.maximum(
                 0.01, np.round(rng.exponential(50.0, n_ev), 2))),
             "props": pa.array(
                 [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
                 pa.string())}
        ),
    }
    out["documents"] = _documents(rng, rows["documents"])
    out["embeddings"] = _embeddings(rng, rows["embeddings"])
    return out


def write_tables(sf_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table under ``sf_dir``; returns rows per table."""
    os.makedirs(sf_dir, exist_ok=True)
    counts = {}
    for name, tbl in make_tables(sf, seed).items():
        pq.write_table(tbl, os.path.join(sf_dir, f"{name}.parquet"))
        counts[name] = tbl.num_rows
    return counts


# ---------------------------------------------------------------------------
# ETL inventory (reference API shapes, FIXTURES.md Family B)
# ---------------------------------------------------------------------------

LAYER_ID = 7
N_SITES = 20


def inventory(n_cameras: int, seed: int) -> dict:
    """Camera pages, lease list and ACL for one ETL run.

    Returns ``items`` (page-ordered camera dicts; ~10% of cameras appear
    twice, the later listing newer), ``leases`` (dicts with ``id``,
    ``layer``, ``source_id``, ``ord``), ``acl`` (the footage-token ACL
    lists) and ``layer_id``.
    """
    rng = np.random.default_rng([seed, 7])
    relisted = np.flatnonzero(rng.random(n_cameras) < 0.10)
    order = np.concatenate([np.arange(n_cameras), relisted])
    items = []
    for page_idx, cam in enumerate(order.tolist()):
        site = cam % N_SITES
        items.append(
            {
                "camera_id": f"cam-{cam:06d}",
                "name": f"Camera {cam}",
                "model": ["CD42", "CD52", "CB52"][(cam + page_idx) % 3],
                "site": f"Site {site}",
                "site_id": f"site-{site:02d}",
                "status": "online" if (cam + page_idx) % 4 else "offline",
                "location_angle": float((cam * 37) % 360),
                "location_lat": 37.0 + (cam % 1000) / 10_000.0,
                "location_lon": -122.0 - (cam % 1000) / 10_000.0,
                "page_idx": page_idx,
            }
        )
    leases = []
    for i, cam in enumerate(rng.permutation(n_cameras)[: n_cameras // 2]):
        roll = rng.random()
        leases.append(
            {
                "id": f"lease-{i:06d}",
                # ~15% on another layer and ~10% without a source: both
                # fall to the layer / not-null filter before the join
                "layer": LAYER_ID if roll >= 0.15 else 3,
                "source_id": None if 0.15 <= roll < 0.25 else f"cam-{cam:06d}",
                "ord": i,
            }
        )
    granted = rng.permutation(N_SITES)[: N_SITES // 2]
    acl = {
        "accessibleSites": sorted(f"site-{s:02d}" for s in granted),
        "accessibleCameras": sorted(
            f"cam-{c:06d}"
            for c in np.flatnonzero(rng.random(n_cameras) < 0.05)
        ),
    }
    return {"items": items, "leases": leases, "acl": acl, "layer_id": LAYER_ID}


# ---------------------------------------------------------------------------
# A run's inputs
# ---------------------------------------------------------------------------

QUERIES_SF = 0.01
N_CAMERAS = 400
PAGE_SIZE = 50
API_KEY = "perfbench-key"
WORKLOADS = ("queries_small", "etl_connector")


def inputs(workload: str, work: str, seed: int) -> dict:
    """Generate the inputs of one run of ``workload`` under ``work``.

    ``queries_small``: the tables at ``QUERIES_SF`` in ``<work>/data``.
    ``etl_connector``: the camera inventory the HTTP stub serves.
    """
    if workload == "queries_small":
        sf_dir = os.path.join(work, "data")
        return {"sf_dir": sf_dir, "sf": QUERIES_SF,
                "rows": write_tables(sf_dir, QUERIES_SF, seed)}
    if workload == "etl_connector":
        inv = inventory(N_CAMERAS, seed)
        return {"inventory": inv, "cameras": N_CAMERAS,
                "items": len(inv["items"]),
                "pages": -(-len(inv["items"]) // PAGE_SIZE),
                "leases": len(inv["leases"])}
    raise KeyError(workload)
