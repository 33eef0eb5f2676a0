"""Seeded fixture generator for the benchmark.

``make_base(out_dir, seed, sf)`` writes the ten fixture tables the
engine reads (region, nation, customer, supplier, part, orders,
lineitem, events, documents, embeddings) as single-row-group parquet
files with the schemas in FIXTURES.md and the value distributions of
the reference sf0.01 / sf0.1 fixtures: uniform keys and categories,
1995-2001 order and ship dates, exponential event values, a 30-word
document vocabulary with 5 % " dup" near-duplicates, and unit-norm
64-d embeddings.

``make_scaled(src_dir, out_dir, seed, k)`` builds the k-times fixture
with the ``tools/make_sf10x.py`` key-shift scheme (each table is k
copies, keys offset by copy * (max key + 1), one part file per copy);
the row order inside every copy is a seeded permutation.

The same seed always gives the same files. Callers keep the
``sf<scale>`` basename on the output directory, because some
operators key their scratch paths on it.
"""

from __future__ import annotations

import importlib.util
import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: rows per table at sf = 1 (documents / embeddings have a floor of 500)
_ROWS_SF1 = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _rows(name: str, sf: float) -> int:
    n = int(round(_ROWS_SF1[name] * sf))
    return max(n, 500) if name in ("documents", "embeddings") else n


def _days(rng, n: int, start: str, end: str) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    us = rng.integers(lo, hi + 1, n) * 86_400_000_000
    return pa.array(us, pa.timestamp("us"))


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    words = np.asarray(_WORDS, dtype=object)
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    # 5 % near-duplicates: an earlier document's text plus " dup"
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, _LANGS, n, _LANG_P),
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
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def _events(rng, n: int) -> pa.Table:
    lo = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(lo, lo + 30 * 86_400_000_000, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(1, int(n * 0.015)), n), pa.int64()),
            "event_type": _pick(rng, _EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def base_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten fixture tables at scale factor ``sf`` for ``seed``."""
    rng = np.random.default_rng(seed)
    n = {t: _rows(t, sf) for t in _ROWS_SF1}
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    t: dict[str, pa.Table] = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": pa.array(_REGIONS),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    }
    c = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(c), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
            "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
            "c_acctbal": _money(rng, c, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, _SEGMENTS, c),
        }
    )
    s = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(s), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
            "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
            "s_acctbal": _money(rng, s, -999.99, 9999.99),
        }
    )
    p = n["part"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(p), pa.int64()),
            "p_name": _pick(rng, names, p),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, p)]),
            "p_type": _pick(rng, _PART_TYPES, p),
            "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 1),
        }
    )
    o = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(o), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], o),
            "o_totalprice": _money(rng, o, 1000.0, 500000.0),
            "o_orderdate": _days(rng, o, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(rng, _PRIORITIES, o),
        }
    )
    li = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
            "l_quantity": rng.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": _money(rng, li, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, li) / 100.0,
            "l_tax": rng.integers(0, 9, li) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], li),
            "l_linestatus": _pick(rng, ["F", "O"], li),
            "l_shipdate": _days(rng, li, "1995-01-02", "2001-11-04"),
        }
    )
    t["events"] = _events(rng, n["events"])
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def _write(table: pa.Table, path: str) -> None:
    # hidden temp name: Spark and DuckDB globs skip dot-files
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    pq.write_table(table, tmp, row_group_size=max(1, table.num_rows))
    os.replace(tmp, path)


def make_base(out_dir: str, seed: int, sf: float) -> None:
    """Write the ``sf`` fixture for ``seed`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    tables = base_tables(seed, sf)
    with ThreadPoolExecutor(4) as pool:
        for f in [
            pool.submit(_write, tbl, os.path.join(out_dir, f"{name}.parquet"))
            for name, tbl in tables.items()
        ]:
            f.result()


def _sf10x():
    """``tools/make_sf10x.py`` (the key-shift scheme), loaded by path."""
    spec = importlib.util.spec_from_file_location(
        "make_sf10x", os.path.join(_REPO, "tools", "make_sf10x.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def make_scaled(src_dir: str, out_dir: str, seed: int, k: int) -> None:
    """Write the k-times key-shifted copy of ``src_dir`` under
    ``out_dir``; each copy's rows are in a seeded order."""
    scheme = _sf10x()
    os.makedirs(out_dir, exist_ok=True)
    src = {
        name: pq.read_table(os.path.join(src_dir, f"{name}.parquet"))
        for name in list(scheme.KEYED) + scheme.COPY_AS_IS
    }
    stride = {}
    for refs in scheme.KEYED.values():
        for ref in refs.values():
            tbl, col = ref.split(".")
            stride[ref] = pc.max(src[tbl][col]).as_py() + 1
    rng = np.random.default_rng([seed, k])
    jobs = []
    for name in scheme.COPY_AS_IS:
        jobs.append((src[name], os.path.join(out_dir, f"{name}.parquet")))
    for name, refs in scheme.KEYED.items():
        tdir = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(tdir, exist_ok=True)
        table = src[name]
        for i in range(k):
            part = table.take(pa.array(rng.permutation(table.num_rows)))
            for col, ref in refs.items():
                j = part.schema.get_field_index(col)
                part = part.set_column(
                    j, col, pc.add(part[col], pa.scalar(i * stride[ref], part[col].type))
                )
            jobs.append((part, os.path.join(tdir, f"part-{i:02d}.parquet")))
    with ThreadPoolExecutor(4) as pool:
        for f in [pool.submit(_write, tbl, path) for tbl, path in jobs]:
            f.result()
