"""Correctness checks of one run's outputs against DuckDB.

* web_session: every answer (its SQL is in the answer's markdown) is
  re-run by DuckDB on the same uploaded file; the row count and the first
  rendered row must agree. Numbers agree when they differ by less than one
  unit of the two-decimal display.
* ops_*: every query's row count must equal the row count of its DuckDB
  oracle SQL on the same tables (the generated ones, which are the tables
  the workload's queries read); a query without an oracle must return
  at least one row.

``verify`` returns one message per failed operation: the harness's own
errors first, then every wrong answer.
"""
import decimal
import os
import re

import duckdb

SQL_RE = re.compile(r"```sql\n(.*?)\n```", re.S)
SHOWING_RE = re.compile(r"\*showing first \d+ of (\d+) rows\*")


def verify(workload, res, data):
    failures = list(res["errors"])
    if workload == "web_session":
        failures += _answers(res["answers"], os.path.join(data, "uploads"))
    else:
        failures += _rows(res["rows"], res["oracles"], os.path.join(data, "tables"))
    return failures


# ---- web answers ---------------------------------------------------------

def _reader(path):
    ext = path.rsplit(".", 1)[-1]
    if ext == "json":  # Spark infers these as text and casts where used
        return f"read_json('{path}', timestampformat='%Y-%m-%dT%H:%M:%S.%f')"
    return {"csv": "read_csv_auto", "parquet": "read_parquet"}[ext] + f"('{path}')"


def _duckdb_spelling(sql):
    """Spark writes ``f(x) IGNORE NULLS OVER``, DuckDB ``f(x IGNORE NULLS) OVER``."""
    out, i = [], 0
    for m in re.finditer(r"\b(?:last|first)_value\(", sql):
        if m.start() < i:
            continue
        depth, j = 1, m.end()
        while depth:
            depth += {"(": 1, ")": -1}.get(sql[j], 0)
            j += 1
        tail = re.match(r"\s+IGNORE\s+NULLS", sql[j:], re.I)
        if tail:
            out.append(sql[i:j - 1] + " IGNORE NULLS)")
            i = j + tail.end()
    return "".join(out) + sql[i:]


def _cell(v):
    """Results.formatCell's display rules."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return f"{v:,}"
    if isinstance(v, (float, decimal.Decimal)):
        d = decimal.Decimal(repr(float(v)))
        return str(d.quantize(decimal.Decimal("0.01"), rounding=decimal.ROUND_HALF_UP))
    s = str(v)
    return s[:50] + "..." if len(s) > 50 else s


def _same_cell(a, b):
    if a == b:
        return True
    try:
        x, y = float(a.replace(",", "")), float(b.replace(",", ""))
    except ValueError:
        return False
    return abs(x - y) <= 0.0101 + 1e-9 * max(abs(x), abs(y))


def _parse(md):
    """(sql, row count, first row cells) from an answer's markdown."""
    m = SQL_RE.search(md)
    rows = [ln for ln in md.splitlines() if ln.startswith("| ")]
    body = rows[2:]
    first = body[0][2:-2].split(" | ") if body else None
    shown = SHOWING_RE.search(md)
    return (m.group(1) if m else None), (int(shown.group(1)) if shown else len(body)), first


def _answers(answers, uploads):
    con = duckdb.connect()
    expected, failures = {}, []
    for a in answers:
        where = f"{a['phase']} {a['file']}: {a['question']}"
        sql, n, first = _parse(a["md"])
        if sql is None:
            failures.append(f"{where}: no SQL in the answer")
            continue
        # the warm-up round uploads small files of the same names
        path = os.path.join(uploads, "warm" if a["phase"] == "warm" else "", a["file"])
        key = (path, sql)
        if key not in expected:
            try:
                con.execute("CREATE OR REPLACE VIEW data_table AS SELECT * FROM "
                            + _reader(path))
                got = con.execute(_duckdb_spelling(sql)).fetchall()
                expected[key] = (len(got), [_cell(v) for v in got[0]] if got else None)
            except duckdb.Error as e:
                expected[key] = (None, str(e).splitlines()[0])
        want_n, want_first = expected[key]
        if want_n is None:
            failures.append(f"{where}: DuckDB could not run the SQL ({want_first})")
        elif n != want_n:
            failures.append(f"{where}: {n} rows, DuckDB {want_n}")
        elif (first is None) != (want_first is None) or (
                first is not None and (len(first) != len(want_first) or
                                       not all(map(_same_cell, first, want_first)))):
            failures.append(f"{where}: first row {first}, DuckDB {want_first}")
    return failures


# ---- operator row counts -------------------------------------------------

def _rows(rows, oracles, tables):
    con = duckdb.connect()
    for f in sorted(os.listdir(tables)):
        t = f[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{f}')")
    want, failures = {}, []
    for _, name, n, *_ in rows:
        if name not in oracles:
            if n <= 0:
                failures.append(f"{name}: no rows and no oracle")
            continue
        if name not in want:
            sql = oracles[name].strip().rstrip(";")
            want[name] = con.execute(f"SELECT count(*) FROM ({sql}) oracle").fetchone()[0]
        if n != want[name]:
            failures.append(f"{name}: {n} rows, DuckDB oracle {want[name]}")
    return failures
