"""DuckDB output checks, run after the timed region.

Each check returns the ids of the ops whose output did not match, with
a reason; run.py counts those ops as failed.
"""
import glob
import os

import duckdb
import pandas as pd


def _read(con, path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return con.execute(f"SELECT * FROM read_parquet({files!r})").df()


def same(got, exp):
    """Row-multiset equality after sorting columns by name; floats may
    differ by summation order (relative 1e-9)."""
    if got is None:
        got = exp.iloc[0:0]
    g = got[sorted(got.columns)]
    e = exp[sorted(exp.columns)]
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} != {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} != {len(e)}"
    g = g.sort_values(list(g.columns)).reset_index(drop=True)
    e = e.sort_values(list(e.columns)).reset_index(drop=True)
    for c in g.columns:
        gv, ev = g[c], e[c]
        if gv.dtype.kind == "f" or ev.dtype.kind == "f":
            gf, ef = gv.astype(float), ev.astype(float)
            bad = ~(((gf - ef).abs() <= 1e-9 * ef.abs().clip(lower=1.0)) | (gf.isna() & ef.isna()))
        else:
            bad = gv.astype(str) != ev.astype(str)
        if bad.any():
            i = bad.idxmax()
            return f"column {c}: {gv[i]!r} != {ev[i]!r} ({int(bad.sum())} rows)"
    return None


def _tables(con, tables_dir, names=("customer", "orders", "lineitem")):
    for t in names:
        p = os.path.join(tables_dir, f"{t}.parquet")
        if os.path.isdir(p):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")


def etl_sql(template, p):
    if template == "join_agg":
        return f"""SELECT c_mktsegment, l_returnflag, count(*) AS n, sum(l_quantity) AS qty,
              max(o_totalprice) AS maxp
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
            WHERE l_quantity < {p['q']} AND l_discount >= {p['d']}
            GROUP BY c_mktsegment, l_returnflag"""
    if template == "agg_window":
        return f"""SELECT l_suppkey, n, qty, rank() OVER (ORDER BY qty DESC) AS rk FROM (
              SELECT l_suppkey, count(*) AS n, sum(l_quantity) AS qty FROM lineitem
              WHERE l_shipdate >= DATE '{p['from']}' AND l_shipdate < DATE '{p['to']}'
              GROUP BY l_suppkey)"""
    band = f"CAST(floor(o_totalprice / {p['width']}) AS BIGINT) + {p['salt']}"
    return f"""SELECT * FROM (
          SELECT o_orderkey, o_custkey, o_totalprice, {band} AS band,
            row_number() OVER (PARTITION BY {band} ORDER BY o_totalprice DESC, o_orderkey) AS rk
          FROM orders WHERE o_orderstatus = '{p['status']}' AND o_totalprice > {p['price']})
        WHERE rk <= {p['k']}"""


def check_etl(raw, work):
    """Each batch request's sink against its DuckDB equivalent, and the
    stream's final sink against a replay of its runs."""
    con = duckdb.connect()
    _tables(con, os.path.join(work, "inputs", "tables"))
    bad = {}
    for r in raw["info"].get("etl_requests", []):
        if not r["ok"]:
            continue
        i = int(r["req"][1:])
        got = _read(con, os.path.join(work, "out", f"req-{i:05d}"))
        why = same(got, con.execute(etl_sql(r["template"], r["params"])).df())
        if why:
            bad[r["req"]] = why
    stream_bad, extra = check_stream(raw, con)
    bad.update(stream_bad)
    return bad, extra


def check_heavy(raw, work):
    con = duckdb.connect()
    dirs = raw["info"]["heavy_dirs"]
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{dirs['corpus']}/documents.parquet/*.parquet')")
    _tables(con, dirs["tables"])
    bad = {}
    for op, sql in raw["info"]["oracle_sql"].items():
        got = _read(con, os.path.join(work, "out", op))
        why = same(got, con.execute(sql).df()) if got is not None else "no output"
        if why:
            for o in raw["ops"]:
                if o["kind"] == op:
                    bad[o["req"]] = why
    return bad, {}


def stream_replay(raw, con):
    """Expected final sink of the stream workload: replays the runs in
    order, dropping rows older than the watermark at the start of their
    run and repeated event ids, then keeps the windows the final
    watermark has closed. Also returns the share of rows the timed runs
    dropped as late (the listener that counts the engine's drops is reset
    after the warm-up runs)."""
    s = raw["info"]["stream"]
    delay, width = s["delay_us"], s["window_us"]
    seen = set()
    kept = []
    wm = None
    max_ts = None
    total = dropped = 0
    for run in s["runs"]:
        files = [os.path.join(s["in"], f) for f in run["segments"]]
        df = con.execute(f"SELECT * FROM read_parquet({files!r})").df()
        live = df if wm is None else df[df.ts_us >= wm]
        if not run["req"].startswith("warm"):
            total += len(df)
            dropped += len(df) - len(live)
        live = live[~live.event_id.isin(seen)].drop_duplicates("event_id")
        seen.update(live.event_id.tolist())
        kept.append(live)
        m = int(df.ts_us.max())
        max_ts = m if max_ts is None else max(max_ts, m)
        wm = max_ts - delay
    ev = pd.concat(kept, ignore_index=True)
    con.register("ev", ev)
    exp = con.execute(f"""SELECT ts_us - ts_us % {width} AS w_start_us, c_mktsegment,
          count(*) AS n, sum(value_c) AS vsum, max(value_c) AS vmax
        FROM ev JOIN customer ON user_id = c_custkey
        WHERE ts_us - ts_us % {width} + {width} <= {wm}
        GROUP BY ALL""").df()
    return exp, (dropped / total if total else 0.0)


def check_stream(raw, con):
    if not raw["info"]["stream"]["runs"]:
        return {}, {}
    exp, late = stream_replay(raw, con)
    got = _read(con, raw["info"]["stream"]["sink"])
    why = same(got, exp)
    bad = {}
    if why:
        for o in raw["ops"]:
            if o["kind"] in ("increment", "catchup"):
                bad[o["req"]] = why
    return bad, {"late_expected_ratio": late, "stream_windows": len(exp)}


CHECKS = {"etl_pipeline": check_etl, "heavy_batch": check_heavy}
