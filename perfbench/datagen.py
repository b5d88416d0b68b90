"""Seeded input generation for the benchmark.

Two kinds of input:

* ``make_tables`` writes the ten harness tables (``region`` ...
  ``embeddings``) that the registry queries read through
  ``session.load_table``.  They follow the schemas of the harness test
  data (TPC-H-like star schema plus the LLM-pipeline tables) with
  independent uniform columns.  The tables do not depend on the run
  seed, so pinned result digests stay valid; the run seed only permutes
  the member order of the query workloads.
* ``make_account`` writes a filesystem Cosmos-style account for the
  ``migrate`` workload: source and pre-seeded target containers, a
  change-feed catch-up set, and every count and frame the output checks
  compare against.  The run seed salts which documents are missing,
  stale or invalid and which rows the change feed touches; the
  proportions are fixed.

Everything is NumPy + pyarrow, so the expectations are computed without
Spark.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

#: The tables never depend on the run seed (see module docstring).
TABLE_SEED = 20240601

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
_PART_NOUN = ["bolt", "gear", "ring", "plate", "rod", "anvil", "widget",
              "gizmo"]
_PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
_WORDS = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")
_DAY_US = 86_400_000_000


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (harness convention:
    the document and embedding corpora have a floor of 500 rows)."""
    return {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span_days: int, n: int) -> np.ndarray:
    return start + rng.integers(0, span_days, n) * _DAY_US


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


def _write_container(table: pa.Table, path: str) -> None:
    """A container's data is a Spark-style parquet directory."""
    os.makedirs(path)
    pq.write_table(table, f"{path}/part-00000.parquet")


def make_tables(out_dir: str, sf: float) -> None:
    """Write the ten harness tables for scale factor ``sf`` to
    ``out_dir/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(TABLE_SEED)
    n = table_sizes(sf)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    _write(pa.table({"r_regionkey": pa.array(np.arange(5), i32),
                     "r_name": pa.array(_REGIONS, s)}),
           f"{out_dir}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(np.arange(25), i32),
                     "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
                     "n_regionkey": pa.array(np.arange(25) % 5, i32)}),
           f"{out_dir}/nation.parquet")

    nc = n["customer"]
    _write(pa.table({
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc), f64),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, nc), s)}),
        f"{out_dir}/customer.parquet")

    ns = n["supplier"]
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns), f64)}),
        f"{out_dir}/supplier.parquet")

    npart = n["part"]
    names = [f"{a} {b}" for a, b in zip(rng.choice(_PART_ADJ, npart),
                                         rng.choice(_PART_NOUN, npart))]
    _write(pa.table({
        "p_partkey": pa.array(np.arange(npart), i64),
        "p_name": pa.array(names, s),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, npart)], s),
        "p_type": pa.array(rng.choice(_PART_TYPES, npart), s),
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1), f64)}),
        f"{out_dir}/part.parquet")

    no = n["orders"]
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no), s),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, no), f64),
        "o_orderdate": pa.array(_days(rng, _EPOCH_1995, 2405, no),
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, no), s)}),
        f"{out_dir}/orders.parquet")

    nl = n["lineitem"]
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(float), f64),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, nl), f64),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl), s),
        "l_shipdate": pa.array(_days(rng, _EPOCH_1995 + _DAY_US, 2498, nl),
                               pa.timestamp("us"))}),
        f"{out_dir}/lineitem.parquet")

    ne = n["events"]
    gaps = rng.exponential(30 * _DAY_US / ne, ne).astype(np.int64)
    ts = _EPOCH_2024 + np.minimum(np.cumsum(gaps), 30 * _DAY_US - 1)
    _write(pa.table({
        "event_id": pa.array(np.arange(ne), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, nc // 10), ne), i64),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, ne), s),
        "value": pa.array(np.round(rng.exponential(60.0, ne), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, ne)], s)}),
        f"{out_dir}/events.parquet")

    nd = n["documents"]
    texts = [" ".join(rng.choice(_WORDS, rng.integers(10, 101)))
             for _ in range(nd)]
    # 5% near-duplicates: a copy of another document plus one token
    for i in rng.choice(nd, nd // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, nd))] + " dup"
    _write(pa.table({
        "doc_id": pa.array(np.arange(nd), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(_LANGS, nd), s),
        "source": pa.array([f"src{i % 20}" for i in range(nd)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)}),
        f"{out_dir}/documents.parquet")

    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), i32)}),
        f"{out_dir}/embeddings.parquet")


# ---------------------------------------------------------------------------
# migrate workload: a generated filesystem account
# ---------------------------------------------------------------------------

#: (database, container, partition-key paths, invalid share, in target)
CONTAINERS = (
    ("sales", "orders", ["/o_custkey"], 0.0, True),
    ("sales", "lineitem", ["/l_returnflag"], 0.001, True),
    ("crm", "customer", ["/addr/nation"], 0.002, True),
    ("crm", "documents", ["/lang"], 0.0, False),
)
SEEDED_SHARE = 2 / 3    # share of valid documents already in the target
STALE_SHARE = 1 / 5     # share of the seeded documents with stale content
CATCHUP_DELTAS = 2
CATCHUP_SHARE = 0.05    # documents per catch-up delta, as a share of orders
CATCHUP_BUCKETS = 16    # key buckets of the catch-up target
#: Sanitized string fields of the customer documents (``sanitize`` phase)
PII_FIELDS = ("name", "email", "addr.city", "addr.street")


def _docs_orders(t: pa.Table) -> pa.Table:
    k = t["o_orderkey"].to_numpy()
    return pa.table({
        "id": pa.array([f"ord-{x:09d}" for x in k], pa.string()),
        "o_custkey": t["o_custkey"],
        "o_orderkey": t["o_orderkey"],
        "o_orderstatus": t["o_orderstatus"],
        "o_totalprice": t["o_totalprice"],
        "o_orderdate": pc.strftime(t["o_orderdate"], "%Y-%m-%d"),
        "o_orderpriority": t["o_orderpriority"],
    })


def _docs_lineitem(t: pa.Table) -> pa.Table:
    # (l_orderkey, l_linenumber) is not unique in the harness tables, so
    # the id is the row number, never the natural key
    return pa.table({
        "id": pa.array([f"li-{x:09d}" for x in range(t.num_rows)],
                       pa.string()),
        "l_returnflag": t["l_returnflag"],
        "l_orderkey": t["l_orderkey"],
        "l_partkey": t["l_partkey"],
        "l_linenumber": t["l_linenumber"],
        "l_quantity": t["l_quantity"],
        "l_extendedprice": t["l_extendedprice"],
        "l_linestatus": t["l_linestatus"],
    })


def _docs_customer(t: pa.Table) -> pa.Table:
    k = t["c_custkey"].to_numpy()
    nation = t["c_nationkey"].to_numpy()
    addr = pa.StructArray.from_arrays(
        [pa.array([f"NATION_{x}" for x in nation], pa.string()),
         pa.array([f"City {x % 97}" for x in k], pa.string()),
         pa.array([f"{x % 9000 + 1} Main St" for x in k], pa.string())],
        names=["nation", "city", "street"])
    return pa.table({
        "id": pa.array([f"cus-{x:09d}" for x in k], pa.string()),
        "name": t["c_name"],
        "email": pa.array([f"customer{x}@shop.test" for x in k],
                          pa.string()),
        "addr": addr,
        "acctbal": t["c_acctbal"],
        "mktsegment": t["c_mktsegment"],
    })


def _docs_documents(t: pa.Table) -> pa.Table:
    k = t["doc_id"].to_numpy()
    return pa.table({
        "id": pa.array([f"doc-{x:09d}" for x in k], pa.string()),
        "lang": t["lang"], "doc_id": t["doc_id"], "source": t["source"],
        "text": t["text"], "n_chars": t["n_chars"],
    })


_DOC_BUILDERS = {"orders": _docs_orders, "lineitem": _docs_lineitem,
                 "customer": _docs_customer, "documents": _docs_documents}
#: numeric field bumped to make a seeded target document stale
_STALE_FIELD = {"orders": "o_totalprice", "lineitem": "l_quantity",
                "customer": "acctbal", "documents": "n_chars"}


def _with_system_fields(docs: pa.Table, rng) -> pa.Table:
    n = docs.num_rows
    return (docs
            .append_column("_etag", pa.array(
                [f"etag-{x:016x}" for x in rng.integers(0, 2**62, n)],
                pa.string()))
            .append_column("_ts", pa.array(
                rng.integers(1_700_000_000, 1_710_000_000, n), pa.int64())))


def _invalidate(docs: pa.Table, rows: np.ndarray, pk_paths) -> pa.Table:
    """Null the id of even picks and blank the partition key of odd
    picks — the two quarantine paths of the validity predicate."""
    ids = docs["id"].to_pylist()
    for j, r in enumerate(rows):
        if j % 2 == 0:
            ids[r] = None
    docs = docs.set_column(0, "id", pa.array(ids, pa.string()))
    odd = rows[1::2]
    if len(odd) == 0:
        return docs
    pk = pk_paths[0].strip("/").split("/")
    if len(pk) == 1:
        col = docs[pk[0]]
        blank = "" if pa.types.is_string(col.type) else None
        vals = col.to_pylist()
        for r in odd:
            vals[r] = blank
        return docs.set_column(docs.schema.get_field_index(pk[0]), pk[0],
                               pa.array(vals, col.type))
    top = docs[pk[0]].combine_chunks()
    fields = [top.field(i) for i in range(top.type.num_fields)]
    idx = top.type.get_field_index(pk[1])
    vals = fields[idx].to_pylist()
    for r in odd:
        vals[r] = None
    fields[idx] = pa.array(vals, fields[idx].type)
    rebuilt = pa.StructArray.from_arrays(
        fields, fields=list(top.type))
    return docs.set_column(docs.schema.get_field_index(pk[0]), pk[0],
                           rebuilt)


def _props(path: str, pk_paths: list[str]) -> None:
    with open(path, "w") as fh:
        json.dump({"partition_key_paths": pk_paths, "indexing_policy": None,
                   "throughput": None}, fh)


def make_account(tables_dir: str, out_dir: str, seed: int) -> dict:
    """Generate the ``migrate`` account under ``out_dir`` and return the
    expectations.  Layout::

        source/<db>/<container>.parquet (+ .properties.json)
        target_pristine/<db>/...        pre-seeded target (reset copy)
        expected/<db>.<container>.parquet   valid source docs, no system fields
        catchup/base.parquet, catchup/delta_<i>.parquet, catchup/expected.parquet
    """
    rng = np.random.default_rng([seed, 7])
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    expect: dict = {"containers": {}, "catchup": {}}
    for db, name, pk_paths, bad_share, in_target in CONTAINERS:
        docs = _DOC_BUILDERS[name](pq.read_table(f"{tables_dir}/{name}.parquet"))
        n = docs.num_rows
        bad = np.sort(rng.choice(n, int(round(n * bad_share)), replace=False))
        src = _invalidate(docs, bad, pk_paths)
        valid = np.setdiff1d(np.arange(n), bad)
        for sub in ("source", "target_pristine", "expected"):
            os.makedirs(f"{out_dir}/{sub}/{db}", exist_ok=True)
        _write_container(_with_system_fields(src, rng),
                         f"{out_dir}/source/{db}/{name}.parquet")
        _props(f"{out_dir}/source/{db}/{name}.properties.json", pk_paths)
        _write(docs.take(valid), f"{out_dir}/expected/{db}.{name}.parquet")
        seeded = stale = 0
        if in_target:
            seeded_rows = np.sort(rng.choice(
                valid, int(round(len(valid) * SEEDED_SHARE)), replace=False))
            stale_mask = rng.random(len(seeded_rows)) < STALE_SHARE
            tgt = docs.take(seeded_rows)
            f = _STALE_FIELD[name]
            col = tgt[f].combine_chunks()
            tgt = tgt.set_column(
                tgt.schema.get_field_index(f), f,
                pc.if_else(pa.array(stale_mask), pc.add(col, 1), col))
            _write_container(_with_system_fields(tgt, rng),
                             f"{out_dir}/target_pristine/{db}/{name}.parquet")
            _props(f"{out_dir}/target_pristine/{db}/{name}.properties.json",
                   pk_paths)
            seeded, stale = len(seeded_rows), int(stale_mask.sum())
        expect["containers"][f"{db}.{name}"] = {
            "database": db, "container": name, "pk_paths": pk_paths,
            "inserted": len(valid) - seeded, "updated": stale,
            "skipped": seeded - stale, "errors": len(bad),
            "source_docs": n,
        }
    expect["catchup"] = _make_catchup(tables_dir, f"{out_dir}/catchup", rng)
    return expect


def _make_catchup(tables_dir: str, out: str, rng) -> dict:
    """Change-feed catch-up against a bucketed copy of the orders
    documents: ``CATCHUP_DELTAS`` delta files, each half updates of
    existing documents and half new documents."""
    os.makedirs(out, exist_ok=True)
    base = _docs_orders(pq.read_table(f"{tables_dir}/orders.parquet"))
    n = base.num_rows
    per = max(2, int(n * CATCHUP_SHARE))
    _write(base, f"{out}/base.parquet")
    state = {r["id"]: r for r in base.to_pylist()}
    next_key = n
    for i in range(CATCHUP_DELTAS):
        upd = base.take(np.sort(rng.choice(n, per // 2, replace=False)))
        upd = upd.set_column(
            upd.schema.get_field_index("o_totalprice"), "o_totalprice",
            pc.add(upd["o_totalprice"], float(i + 1)))
        keys = np.arange(next_key, next_key + per - per // 2)
        next_key += len(keys)
        new = pa.table({
            "id": pa.array([f"ord-{x:09d}" for x in keys], pa.string()),
            "o_custkey": pa.array(rng.integers(0, 1000, len(keys)),
                                  pa.int64()),
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], len(keys)),
                                      pa.string()),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0,
                                            len(keys)), pa.float64()),
            "o_orderdate": pa.array(["2002-01-01"] * len(keys), pa.string()),
            "o_orderpriority": pa.array(rng.choice(_PRIORITIES, len(keys)),
                                        pa.string()),
        })
        delta = pa.concat_tables([upd, new])
        _write(delta, f"{out}/delta_{i}.parquet")
        for r in delta.to_pylist():
            state[r["id"]] = r
    _write(pa.Table.from_pylist(list(state.values()), schema=base.schema),
           f"{out}/expected.parquet")
    return {"deltas": CATCHUP_DELTAS, "docs_per_delta": per,
            "base_docs": n, "final_docs": len(state)}
