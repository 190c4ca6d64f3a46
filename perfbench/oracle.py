"""Output checks for the mart workload.

A catalog query is correct when the multiset of its rows equals the
multiset its DuckDB oracle SQL returns on the same parquet files. Both
sides are reduced to an order-insensitive hash: each row becomes a
canonical tuple (columns in name order, values tagged by kind, floats by
their exact repr), rows are sorted, and the sorted list is hashed.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os
import re


def _canon(v):
    if v is None:
        return ("null",)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, decimal.Decimal):
        return ("dec", str(v))
    if isinstance(v, float):
        return ("f", "nan" if math.isnan(v) else repr(v))
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, dt.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, dt.date):
        return ("d", v.isoformat())
    if isinstance(v, (list, tuple)):
        return ("arr", tuple(_canon(x) for x in v))
    if isinstance(v, (bytes, bytearray)):
        return ("by", bytes(v).hex())
    return ("s", str(v))


def rows_hash(columns: list[str], rows) -> tuple[int, str]:
    """(row count, order-insensitive hash) of ``rows`` (sequences aligned
    with ``columns``)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(repr(tuple(_canon(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr(sorted(columns)).encode())
    for line in canon:
        h.update(line.encode())
        h.update(b"\n")
    return len(canon), h.hexdigest()


def spark_hash(df) -> tuple[int, str]:
    return rows_hash(df.columns, df.collect())


def duckdb_hash(data_dir: str, sql: str) -> tuple[int, str]:
    import duckdb

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(data_dir, f)
                con.execute(
                    f"CREATE VIEW {f[: -len('.parquet')]} AS "
                    f"SELECT * FROM read_parquet('{path}')"
                )
        tbl = con.execute(sql).fetch_arrow_table()
    finally:
        con.close()
    cols = list(tbl.column_names)
    return rows_hash(cols, [tuple(d[c] for c in cols) for d in tbl.to_pylist()])


def _rate(passed: int, total: int) -> str:
    q = decimal.Decimal(passed) * 100 / decimal.Decimal(total)
    return str(q.quantize(decimal.Decimal("0.01"), rounding=decimal.ROUND_HALF_UP))


def dashboard_problems(got: str | None, want: str) -> list[str]:
    """Line-by-line differences between two dashboard texts, comparing
    decimal numbers by value (Spark drops trailing zeros: 87.50 -> 87.5)."""
    norm = lambda s: re.sub(  # noqa: E731
        r"\d+\.\d+", lambda m: str(decimal.Decimal(m.group()).normalize()), s
    )
    got_lines, want_lines = (got or "").splitlines(), want.splitlines()
    diff = [f"{g!r} != {w!r}" for g, w in zip(got_lines, want_lines) if norm(g) != norm(w)]
    if len(got_lines) != len(want_lines):
        diff.append(f"{len(got_lines)} lines != {len(want_lines)}")
    return ["dashboard text differs: " + "; ".join(diff[:3])] if diff else []


def expected_dashboard(path: str, today: dt.date, days_back: int = 7) -> str:
    """The text ``report.render_dashboard`` must produce for the DQ results
    file at ``path``, computed independently in plain Python."""
    import pyarrow.parquet as pq

    rows = pq.read_table(path).to_pylist()
    cutoff = dt.datetime.combine(today - dt.timedelta(days=days_back), dt.time())
    recent = [r for r in rows if r["execution_date"].replace(tzinfo=None) >= cutoff]
    count = lambda rs, s: sum(1 for r in rs if r["status"] == s)  # noqa: E731
    lines = ["=" * 60, "DATA QUALITY DASHBOARD", "=" * 60]
    lines.append(
        f"Last {days_back}d: total={len(recent)} passed={count(recent, 'passed')} "
        f"failed={count(recent, 'failed')} errors={count(recent, 'error')} "
        f"rate={_rate(count(recent, 'passed'), len(recent)) if recent else None}%"
    )
    lines.append("-" * 60)
    for t in sorted({r["check_type"] for r in rows}):
        rs = [r for r in rows if r["check_type"] == t]
        lines.append(
            f"{t:>14}: {count(rs, 'passed')}/{len(rs)} passed "
            f"({_rate(count(rs, 'passed'), len(rs))}%)"
        )
    lines.append("-" * 60)
    bad = sorted(
        (r for r in rows if r["status"] in ("failed", "error")),
        key=lambda r: (r["execution_date"], r["check_id"]),
        reverse=True,
    )[:5]
    for r in bad:
        lines.append(
            f"CRITICAL {r['check_type']}/{r['check_name']}: {r['error_message']}"
        )
    return "\n".join(lines)
