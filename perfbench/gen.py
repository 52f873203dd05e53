"""Deterministic inputs for the graft benchmark, derived from the graft
test corpus.

`perfbench/data/` holds unmodified copies of the corpus tables the
benchmark reads: `events.parquet` at sf0.1 (100k flows over 30 days) and
`events`, `documents` and `embeddings` at sf0.001. Every input is a pure
function of (source table, seed, size), so the same seed writes the same
rows on any run:

- events keep their real distributions (users, event types, values, the
  time order of the ids). A seed-driven sample drops ~10% of the rows, and
  larger inputs stack id-shifted copies of the table, as
  `tools/ScaleProbe.scala` does (`event_id + k*1e9`, `user_id + k*1e6`).
- documents and embeddings are kept whole, in a seed-driven row order.
"""
import os

import duckdb

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
SF01 = os.path.join(DATA, "sf0.1")
SF0001 = os.path.join(DATA, "sf0.001")
KEEP_PCT = 90  # share of the source rows a seed keeps


def _con():
    con = duckdb.connect()
    con.execute("SET threads=2")
    return con


def source_rows(src_dir):
    con = _con()
    try:
        return con.execute(
            f"SELECT count(*) FROM read_parquet('{src_dir}/events.parquet')").fetchone()[0]
    finally:
        con.close()


def events(src_dir, out_dir, seed, copies=1):
    """`copies` id-shifted copies of the source events, each sampled by the
    seed, ordered by event_id. Returns the row count."""
    os.makedirs(out_dir, exist_ok=True)
    src = f"read_parquet('{src_dir}/events.parquet')"
    parts = " UNION ALL ".join(
        f"""SELECT event_id + {k * 1_000_000_000} AS event_id, ts,
                   user_id + {k * 1_000_000} AS user_id, event_type, value, props
            FROM {src}
            WHERE hash(event_id, {int(seed)}, {k}) % 100 < {KEEP_PCT}"""
        for k in range(copies))
    con = _con()
    try:
        con.execute(f"COPY (SELECT * FROM ({parts}) ORDER BY event_id) "
                    f"TO '{out_dir}/events.parquet' (FORMAT PARQUET)")
        return con.execute(
            f"SELECT count(*) FROM read_parquet('{out_dir}/events.parquet')").fetchone()[0]
    finally:
        con.close()


def curation(src_dir, out_dir, seed):
    """The sf0.001 documents and embeddings, in a seed-driven row order."""
    os.makedirs(out_dir, exist_ok=True)
    con = _con()
    try:
        for table, key in (("documents", "doc_id"), ("embeddings", "vec_id")):
            con.execute(f"""
              COPY (SELECT * FROM read_parquet('{src_dir}/{table}.parquet')
                    ORDER BY hash({key}, {int(seed)}), {key})
              TO '{out_dir}/{table}.parquet' (FORMAT PARQUET)""")
        return {t: con.execute(f"SELECT count(*) FROM read_parquet('{out_dir}/{t}.parquet')")
                .fetchone()[0] for t in ("documents", "embeddings")}
    finally:
        con.close()
