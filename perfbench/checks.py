"""Output checks: registry members against their DuckDB oracles or a
pinned digest, and the ``migrate`` phases against the generator's
expectations.

The canonical value form is the one ``tests/oracle_utils.compare``
uses (both sides through pandas, floats at shortest round-trip
precision, NaN folded into NULL, midnight timestamps as ISO dates,
rows sorted); it is restated here so that an edit to the test helpers
cannot change what the benchmark accepts.  Every check returns an
error string, or ``None`` when the output is correct.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math

import duckdb
import numpy as np
import pandas as pd

from datagen import PII_FIELDS, TABLES

#: Members whose results are checked against a pinned digest instead of
#: the oracle, per scale factor: ``dedup_minhash_lsh`` has no oracle.
#: The digests come from a run whose other members all matched their
#: oracles; a mismatch reports the digest it got, which is the value to
#: pin when the generator changes.
PINNED_DIGESTS: dict[str, dict[str, str]] = {
    "dedup_minhash_lsh": {"sf0.001": "7d54083346bc71dd12c4e1b869e2b61e"},
}


def canon(v) -> str:
    if v is None or v is pd.NaT:
        return "<null>"
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "<null>" if math.isnan(f) else repr(f)
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        t = v.to_pydatetime() if isinstance(v, pd.Timestamp) else v
        if t.tzinfo is not None:
            t = t.astimezone(dt.timezone.utc).replace(tzinfo=None)
        if (t.hour, t.minute, t.second, t.microsecond) == (0, 0, 0, 0):
            return t.date().isoformat()
        return t.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def matrix(pdf: pd.DataFrame) -> list[tuple[str, ...]]:
    """Order-insensitive canonical rows over the sorted column names."""
    cols = sorted(pdf.columns)
    rows = [tuple(r) for r in zip(*[[canon(v) for v in pdf[c]]
                                    for c in cols])] if cols else []
    rows.sort()
    return rows


def digest(pdf: pd.DataFrame) -> str:
    h = hashlib.sha256(",".join(sorted(pdf.columns)).encode())
    for row in matrix(pdf):
        h.update(("\x1f".join(row) + "\x1e").encode())
    return h.hexdigest()[:32]


def duckdb_tables(tables_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tables_dir}/{t}.parquet')")
    return con


def check_member(name: str, spark_pdf: pd.DataFrame, oracle_sql: str | None,
                 con: duckdb.DuckDBPyConnection, sf_key: str) -> str | None:
    """Compare one member's collected result with its oracle (or its
    pinned digest)."""
    pinned = PINNED_DIGESTS.get(name)
    if pinned is not None:
        got, want = digest(spark_pdf), pinned.get(sf_key)
        return None if got == want else f"digest {got} != pinned {want}"
    if oracle_sql is None:
        return "no oracle"
    want_pdf = con.execute(oracle_sql).df()
    if sorted(spark_pdf.columns) != sorted(want_pdf.columns):
        return (f"columns {sorted(spark_pdf.columns)} != oracle "
                f"{sorted(want_pdf.columns)}")
    if len(spark_pdf) != len(want_pdf):
        return f"rows {len(spark_pdf)} != oracle {len(want_pdf)}"
    got, want = matrix(spark_pdf), matrix(want_pdf)
    bad = sum(1 for a, b in zip(got, want) if a != b)
    return f"{bad}/{len(got)} rows differ from oracle" if bad else None


# ---------------------------------------------------------------------------
# migrate
# ---------------------------------------------------------------------------

def _parquet(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning=false)"


def _diff(con, a: str, b: str, cols: str) -> int:
    """Rows of ``a`` not in ``b`` plus rows of ``b`` not in ``a``
    (multiset difference over ``cols``)."""
    return con.execute(
        f"SELECT (SELECT count(*) FROM (SELECT {cols} FROM {a} EXCEPT ALL "
        f"SELECT {cols} FROM {b})) + (SELECT count(*) FROM (SELECT {cols} "
        f"FROM {b} EXCEPT ALL SELECT {cols} FROM {a}))").fetchone()[0]


def check_counters(result, e: dict, phase: str) -> list[str]:
    """The counter quadruple of one container against the generator's
    numbers (``rerun``: everything skipped)."""
    valid = e["inserted"] + e["updated"] + e["skipped"]
    want = ((e["inserted"], e["updated"], e["skipped"], e["errors"])
            if phase == "delta" else (0, 0, valid, e["errors"]))
    got = (result.inserted, result.updated, result.skipped, result.errors)
    return [] if got == want else [f"{phase}: counters {got} != {want}"]


def check_target_content(target_root: str, account: str,
                         e: dict) -> list[str]:
    """Target content of one container equals its valid source
    documents."""
    db, c = e["database"], e["container"]
    con = duckdb.connect()
    want = f"read_parquet('{account}/expected/{db}.{c}.parquet')"
    cols = ", ".join(con.execute(f"SELECT * FROM {want} LIMIT 0")
                     .df().columns)
    n = _diff(con, want, _parquet(f"{target_root}/{db}/{c}.parquet"), cols)
    con.close()
    return [f"target: {n} rows differ from the valid source documents"
            ] if n else []


def check_sanitized(target_root: str, account: str, result,
                    e: dict) -> list[str]:
    """Sanitized pass into an empty target: every valid document
    landed, and no source value is left in a sanitized field."""
    errs = []
    valid = e["inserted"] + e["updated"] + e["skipped"]
    if (result.inserted, result.errors) != (valid, e["errors"]):
        errs.append(f"sanitize: counters {(result.inserted, result.errors)}"
                    f" != {(valid, e['errors'])}")
    if e["container"] != "customer":
        return errs
    con = duckdb.connect()
    src = f"read_parquet('{account}/expected/crm.customer.parquet')"
    got = _parquet(f"{target_root}/crm/customer.parquet")
    leaks = con.execute(
        f"SELECT count(*) FROM {src} s JOIN {got} t USING (id) WHERE "
        + " OR ".join(f"s.{f} = t.{f}" for f in PII_FIELDS)).fetchone()[0]
    con.close()
    if leaks:
        errs.append(f"sanitize: {leaks} documents keep a source PII value")
    return errs


def check_catchup(target: str, account: str, expect: dict) -> list[str]:
    """After the catch-up: the row count and the latest version of every
    document."""
    con = duckdb.connect()
    want = f"read_parquet('{account}/catchup/expected.parquet')"
    cols = ", ".join(con.execute(f"SELECT * FROM {want} LIMIT 0")
                     .df().columns)
    got = _parquet(target)
    n_rows = con.execute(f"SELECT count(*) FROM {got}").fetchone()[0]
    n_diff = _diff(con, want, got, cols)
    con.close()
    errs = []
    if n_rows != expect["catchup"]["final_docs"]:
        errs.append(f"catchup: {n_rows} rows != "
                    f"{expect['catchup']['final_docs']}")
    if n_diff:
        errs.append(f"catchup: {n_diff} rows are not the latest version")
    return errs
