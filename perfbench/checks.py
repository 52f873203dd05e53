"""Output checks, run outside the timed region against DuckDB.

Each function returns a list of mismatch descriptions; every mismatch
counts as one failed op.
"""
import hashlib
import math
import os

import duckdb

DAY_MS = 86_400_000


def _con(data):
    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in ("events", "documents", "embeddings"):
        if os.path.exists(f"{data}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    return con


def _canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_hash(cols, rows):
    """Order-free hash of a result: columns by name, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for r in canon:
        h.update(r.encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def _result(con, sql):
    cur = con.execute(sql)
    cols = [c[0] for c in cur.description]
    rows = cur.fetchall()
    return cols, rows


def _day(s):
    return f"CAST(epoch_ms(CAST('{s}' AS TIMESTAMP)) // {DAY_MS} AS BIGINT)"


def _expected_days(con, where):
    rows = con.execute(f"""
        SELECT CAST(epoch_ms(ts) // {DAY_MS} AS BIGINT) AS d, count(*),
               sum(CAST(round(value * 100) AS BIGINT))
        FROM events WHERE {where} GROUP BY d""").fetchall()
    return {d: (n, s) for d, n, s in rows}


def _ranges_sql(ranges):
    return " OR ".join(f"(event_id >= {lo} AND event_id < {hi})" for lo, hi in ranges) or "FALSE"


def spool(ck, con):
    bad = []
    if not ck.get("spool_digests_equal", False):
        bad.append("set-up repeats wrote different spools for one seed")
    sp = ck.get("spool", {})
    if "rows_dropped" in sp and sp["rows_dropped"] != sp["planted"] + sp["footer_lines"]:
        bad.append(f"nfdump_csv dropped {sp['rows_dropped']} lines, planted "
                   f"{sp['planted']} + footers {sp['footer_lines']}")
    for out in ck.get("nflows", []):
        if out["kind"] == "parquet":
            where = _ranges_sql(out["ranges"]) if "ranges" in out else "TRUE"
            exp = _expected_days(con, where)
            if out["expire_before"]:
                cut = con.execute(f"SELECT {_day(out['expire_before'])}").fetchone()[0]
                exp = {d: v for d, v in exp.items() if d >= cut}
            got_rows = con.execute(f"""
                SELECT CAST(epoch_ms(ts) // {DAY_MS} AS BIGINT) AS d, count(*), sum(ibyt)
                FROM read_parquet('{out['dir']}/**/*.parquet') GROUP BY d""").fetchall() \
                if exp else []
            got = {d: (n, s) for d, n, s in got_rows}
            if got != exp:
                bad.append(f"{out['dir']}: per-date rows/sum(ibyt) differ from the generator "
                           f"({sum(v[0] for v in got.values())} vs "
                           f"{sum(v[0] for v in exp.values())} rows)")
        else:
            exp = _expected_days(con, _ranges_sql(out["ranges"]))
            got = {con.execute(f"SELECT {_day(d)}").fetchone()[0]: tuple(v)
                   for d, v in out["per_date"].items()}
            if got != exp:
                bad.append(f"jdbc table {out['table']}: per-date rows/sum(ibyt) differ")
    return bad


def results(ck, con):
    """Each query's first kept result must equal its DuckDB oracle; a result
    kept in a later phase (curate_lake's serve) must equal the first."""
    bad, first = [], {}
    for r in ck.get("results", []):
        name, phase = r["name"], r["phase"]
        try:
            cols, rows = _result(con, f"SELECT * FROM read_parquet('{r['path']}/*.parquet')")
        except duckdb.Error as e:
            bad.append(f"{phase} {name}: no readable result ({e})")
            continue
        h = (sorted(cols), len(rows), table_hash(cols, rows))
        if name in first:
            if h != first[name][1]:
                bad.append(f"{phase} {name}: differs from the {first[name][0]} result")
            continue
        first[name] = (phase, h)
        if not r["oracle"]:
            bad.append(f"{name}: no oracle SQL")
            continue
        try:
            ocols, orows = _result(con, r["oracle"])
        except duckdb.Error as e:
            bad.append(f"{name}: oracle failed ({e})")
            continue
        if sorted(cols) != sorted(ocols):
            bad.append(f"{phase} {name}: columns {sorted(cols)} vs oracle {sorted(ocols)}")
        elif len(rows) != len(orows):
            bad.append(f"{phase} {name}: {len(rows)} rows vs oracle {len(orows)}")
        elif h[2] != table_hash(ocols, orows):
            bad.append(f"{phase} {name}: values differ from the oracle")
    return bad


def verify(workload, ck, data):
    con = _con(data)
    try:
        if workload.startswith("spool_"):
            return spool(ck, con)
        return results(ck, con)
    finally:
        con.close()
