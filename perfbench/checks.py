"""Output checks, made outside the timed interval.

Each check returns a list of problems; an op with any problem counts as
failed. Fingerprints are order-independent: a row count plus the sum of
DuckDB row hashes, with floating-point columns rounded first, so a sink
written with another partitioning or row order reads the same.
"""

from __future__ import annotations

import datetime
import decimal
import glob
import hashlib
import math
import os

import duckdb

FLOAT_DIGITS = 4        # decimals kept from DOUBLE/FLOAT sink columns
QUERY_SIG_DIGITS = 10   # significant digits kept from query result floats


def _sink_dirs(out: str) -> dict[str, str]:
    """sink name -> directory, for every directory holding parquet."""
    dirs = {}
    for name in ["errors", "tool_calls", "by_role"]:
        dirs[name] = os.path.join(out, name)
    for d in sorted(glob.glob(os.path.join(out, "reports", "*"))):
        dirs["reports/" + os.path.basename(d)] = d
    return dirs


def sink_fingerprints(out: str) -> dict[str, list]:
    """sink -> [rows, hash] read back from disk."""
    con = duckdb.connect()
    try:
        fps = {}
        for name, d in _sink_dirs(out).items():
            src = (f"read_parquet('{d}/**/*.parquet', hive_partitioning="
                   f"{'true' if name == 'by_role' else 'false'})")
            cols = con.sql(f"DESCRIBE SELECT * FROM {src}").fetchall()
            exprs = [f"round(\"{c}\", {FLOAT_DIGITS})"
                     if t in ("DOUBLE", "FLOAT") else f"\"{c}\""
                     for c, t, *_ in cols]
            rows, h = con.sql(
                f"SELECT count(*), coalesce(sum(hash({', '.join(exprs)})), 0)"
                f"::VARCHAR FROM {src}").fetchone()
            fps[name] = [int(rows), h]
        return fps
    finally:
        con.close()


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def data_files(path: str) -> int:
    return sum(1 for _, _, files in os.walk(path)
               for f in files if f.endswith(".parquet"))


def check_conservation(counts: dict, fps: dict, new_rows: int) -> list[str]:
    """Input rows of the batch = errors + by_role, both from the engine's
    returned counts and from the sinks read back from disk."""
    errs = []
    ret = int(counts["errors"]) + int(counts["by_role"])
    disk = fps["errors"][0] + fps["by_role"][0]
    if ret != new_rows:
        errs.append(f"conservation: errors+by_role={ret} (returned) "
                    f"!= {new_rows} input rows")
    if disk != new_rows:
        errs.append(f"conservation: errors+by_role={disk} (on disk) "
                    f"!= {new_rows} input rows")
    for name, (rows, _) in fps.items():
        if name in counts and int(counts[name]) != rows:
            errs.append(f"{name}: returned {counts[name]} rows, "
                        f"{rows} on disk")
    return errs


def check_resumed_sessions(by_role: str, conv_state: str,
                           timeout_s: int) -> list[str]:
    """Recompute the resumed session numbering in SQL and compare.

    Within the batch a row opens a session when the gap to the previous
    row of its conv is at least the timeout; the batch's first row of a
    conv continues the saved session when it is within the timeout of the
    saved last_ts. session_seq continues the saved count.
    """
    con = duckdb.connect()
    try:
        bad, n = con.sql(f"""
        WITH b AS (
          SELECT conv_id, turn_idx, ts, is_new_session, session_seq,
                 epoch_us(ts::TIMESTAMP) // 1000000 AS e,
                 lag(epoch_us(ts::TIMESTAMP) // 1000000) OVER w AS pe
          FROM read_parquet('{by_role}/**/*.parquet', hive_partitioning=true)
          WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)),
        s AS (SELECT conv_id, epoch_us(last_ts::TIMESTAMP) // 1000000 AS le,
                     sessions FROM read_parquet('{conv_state}/*.parquet')),
        r AS (
          SELECT b.*, s.le, coalesce(s.sessions, 0) AS prev,
                 CASE WHEN b.pe IS NOT NULL THEN b.e - b.pe >= {timeout_s}
                      WHEN s.le IS NOT NULL THEN b.e - s.le >= {timeout_s}
                      ELSE TRUE END AS want_new
          FROM b LEFT JOIN s USING (conv_id)),
        q AS (
          SELECT *, prev + sum(want_new::INT) OVER (
                   PARTITION BY conv_id ORDER BY ts, turn_idx
                   ROWS UNBOUNDED PRECEDING) AS want_seq
          FROM r)
        SELECT count(*) FILTER (WHERE is_new_session != want_new
                                OR session_seq != want_seq),
               count(*)
        FROM q""").fetchone()
    finally:
        con.close()
    if bad:
        return [f"sessions: {bad} of {n} resumed rows disagree with the "
                f"SQL recomputation"]
    return []


# ---------------------------------------------------------------------------
# query results
# ---------------------------------------------------------------------------

def _cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "\0NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return format(v, f".{QUERY_SIG_DIGITS}g")
    if isinstance(v, decimal.Decimal):
        return format(float(v), f".{QUERY_SIG_DIGITS}g")
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, datetime.date):
        return datetime.datetime.combine(v, datetime.time()).isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}"
                              for k, x in sorted(v.items())) + "}"
    return str(v)


def canon_table(tbl) -> tuple[list[str], list[tuple]]:
    """pyarrow table -> (sorted column names, sorted canonical rows)."""
    cols = sorted(tbl.column_names)
    data = [tbl.column(c).to_pylist() for c in cols]
    rows = sorted(zip(*[[_cell(v) for v in col] for col in data])) \
        if cols else []
    return cols, rows


def fingerprint_rows(cols: list[str], rows: list[tuple]) -> list:
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(repr(r).encode())
    return [len(rows), h.hexdigest()[:16]]


def oracle_connection(data_dir: str, tables: list[str]):
    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{data_dir}/{t}.parquet'")
    return con


def check_query(name: str, spark_tbl, con, oracle_sql: str) -> list[str]:
    """Spark result == DuckDB oracle result, canonically."""
    sc, sr = canon_table(spark_tbl)
    oc, orows = canon_table(con.sql(oracle_sql).arrow())
    if sc != oc:
        return [f"{name}: columns {sc} != oracle {oc}"]
    if len(sr) != len(orows):
        return [f"{name}: {len(sr)} rows != oracle {len(orows)}"]
    if sr != orows:
        diff = next((a, b) for a, b in zip(sr, orows) if a != b)
        return [f"{name}: values differ from oracle, first {diff}"]
    return []


def compare_pins(got: dict, pinned: dict | None, what: str) -> list[str]:
    if not pinned:
        return []
    errs = []
    for k, v in pinned.items():
        if got.get(k) != v:
            errs.append(f"{what} {k}: {got.get(k)} != pinned {v}")
    return errs
