"""Output checks, run after the engine exits and outside every timing.

`check` returns the operations whose outputs are wrong, keyed by
(pass dir, op name) with a reason, plus the per-layer metrics that are
read off the outputs themselves. pull_nightly and analyze_model are held
to invariants the generator knows exactly; operator_board queries are
compared with their DuckDB oracle the way tools/check_oracle.py does.
"""
import json
import os

import duckdb
import numpy as np

NOT_OPS = {"config_backfill", "bootstrap", "catchup"}


def is_op(name):
    """Operations that enter op_geomean_s: the incremental nights, the
    analyze programs and the board queries."""
    return name not in NOT_OPS


def _load(path):
    with open(path) as f:
        return json.load(f)


def _rows(con, sql):
    return con.sql(sql).fetchall()


def check(workload, inputs, res):
    expect = _load(os.path.join(inputs, "expect.json"))
    fn = {"pull_nightly": _pull, "analyze_model": _analyze, "operator_board": _board}[workload]
    return fn(inputs, expect, res["passes"])


# ---------------------------------------------------------------- pull --

def _pull(inputs, e, passes):
    bad = {}
    for p in passes:
        wh = os.path.join(p["dir"], "wh")
        names = [o["name"] for o in p["ops"]]
        try:
            con = duckdb.connect()
            rt = _rows(con, f"""
                SELECT CAST(START_DATE AS VARCHAR), DETECTOR_NAME, count(*),
                       count(DISTINCT START_DATETIME), sum(VOLUME_SUM), count(NODE_NAME)
                FROM read_parquet('{wh}/RTMC_15MIN/*/*.parquet', hive_partitioning = true)
                GROUP BY ALL""")
            log = _rows(con, f"""
                SELECT CAST(Update_Date AS VARCHAR), Change, count(*)
                FROM read_parquet('{wh}/RTMC_CONFIG_CHANGELOG/*.parquet') GROUP BY ALL""")
            dim = _rows(con, f"""
                SELECT count(*), count(*) FILTER (WHERE DEACTIVATE)
                FROM read_parquet('{wh}/RTMC_CONFIG_HISTORICAL/*.parquet')""")[0]
        except Exception as ex:  # a missing table fails every op of the pass
            for n in names:
                bad[(p["dir"], n)] = f"outputs unreadable: {ex}"
            continue
        by_date = {}
        for d, s, n, k, v, nn in rt:
            by_date.setdefault(d, []).append((s, n, k, v, nn))
        written = set(d for ds in e["legs"].values() for d in ds)
        extra = set(by_date) - written
        if extra:
            bad[(p["dir"], names[-1])] = f"unexpected partitions {sorted(extra)}"
        for op, dates in e["legs"].items():
            for d in dates:
                got = by_date.get(d, [])
                sensors = sorted(s for s, *_ in got)
                why = None
                if sensors != e["sensor_days"].get(d, []):
                    why = f"{d}: sensor-days {len(sensors)} != {len(e['sensor_days'].get(d, []))}"
                elif any(n != 96 or k != 96 or nn != 96 for _, n, k, _, nn in got):
                    why = f"{d}: a sensor-day without 96 unique, node-tagged rows"
                elif sum(v for *_, v, _ in got) != e["volume_sum"].get(d, 0):
                    why = f"{d}: VOLUME_SUM total differs"
                if why:
                    bad[(p["dir"], op)] = why
        got_log = {}
        for d, c, n in log:
            got_log.setdefault(d, {})[c] = n
        for op, dates in [("config_backfill", e["backfill_dates"])] + \
                [(k, [d]) for k, d in e["night_dates"].items()]:
            for d in dates:
                if got_log.get(d, {}) != e["changelog"].get(d, {}):
                    bad[(p["dir"], op)] = f"changelog for {d}: {got_log.get(d)}"
        if list(dim) != [e["dim_rows"], e["dim_deactivated"]]:
            bad[(p["dir"], names[-1])] = f"dimension rows/deactivated {list(dim)}"
    return bad, {}


# ------------------------------------------------------------- analyze --

def _analyze(inputs, e, passes):
    bad, extra = {}, {}
    nodes = e["nodes"]
    want = lambda key: {n: v[key] for n, v in nodes.items() if v[key] > 0}
    for p in passes:
        wh = os.path.join(p["dir"], "wh")
        con = duckdb.connect()

        def counts(table):
            return dict(_rows(con, f"SELECT NODE_NAME, count(*) FROM "
                                   f"read_parquet('{wh}/{table}/*.parquet') GROUP BY 1"))

        def predictions(table, grid, rows_key):
            got = counts(table)
            nulls = _rows(con, f"SELECT count(*) FILTER (WHERE VOLUMN_PREDICTION IS NULL "
                               f"OR VOLUMN_PREDICTION < 0) FROM "
                               f"read_parquet('{wh}/{table}/*.parquet')")[0][0]
            exp = {n: grid for n in want(rows_key)}
            if got != exp:
                return f"{table} rows per node {got} != {exp}"
            if nulls:
                return f"{table}: {nulls} NULL or negative predictions"
            return None

        try:
            for op, unit in (("modeling_node_hour", "hour"), ("modeling_node_day", "day")):
                rollup = counts(f"RTMC_NODE_{unit.upper()}")
                why = None
                if rollup != want(f"{unit}_rows"):
                    why = f"QAQC'd {unit} rollup rows per node {rollup}"
                else:
                    why = predictions(f"RTMC_PREDICT_{unit.upper()}", e[f"grid_{unit}"],
                                      f"{unit}_rows")
                if why:
                    bad[(p["dir"], op)] = why
            rows = _rows(con, f"""
                SELECT NODE_NAME, count(*), sum(VOLUME_SUM_IMPUTE),
                       count(*) FILTER (WHERE VOLUME_DIFF IS DISTINCT FROM
                                        VOLUME_SUM_IMPUTE - VOLUMN_PREDICTION)
                FROM read_parquet('{wh}/VOLUME_DIFF/*.parquet') GROUP BY 1""")
            diff = {n: (c, v) for n, c, v, _ in rows}
            exp = {n: (v["diff_rows"], v["diff_volume"]) for n, v in nodes.items()
                   if v["diff_rows"] > 0}
            if diff != exp:
                bad[(p["dir"], "data_comparison_hour")] = f"VOLUME_DIFF per node {diff} != {exp}"
            elif any(w for *_, w in rows):
                bad[(p["dir"], "data_comparison_hour")] = "VOLUME_DIFF != actual - predicted"
            if p["kind"] == "traced":
                hour = counts("RTMC_NODE_HOUR")
                extra = {
                    "traffic.rollup.qaqc_admit_frac": len(hour) / len(nodes),
                    "model.gam.groups_fit": float(len(counts("RTMC_PREDICT_HOUR")) +
                                                  len(counts("RTMC_PREDICT_DAY"))),
                    "model.gam.max_group_rows": float(max(hour.values(), default=0)),
                }
        except Exception as ex:
            for o in p["ops"]:
                bad.setdefault((p["dir"], o["name"]), f"outputs unreadable: {ex}")
    return bad, extra


# ---------------------------------------------------------------- board --

def _norm(df):
    """tools/check_oracle.py's normalisation: columns by name, rows by value."""
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _same(a, b):
    """Cell-exact compare after normalisation, as tools/check_oracle.py does."""
    a, b = _norm(a), _norm(b)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} != {len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype != bv.dtype:
            try:
                bv = bv.astype(av.dtype)
            except Exception:
                return f"column {c}: dtype {av.dtype} vs {bv.dtype}"
        if av.dtype.kind == "f":
            eq = (av.isna() & bv.isna()) | (av == bv)
        else:
            eq = (av.isna() & bv.isna()) | (av.astype(object) == bv.astype(object))
        if not eq.all():
            i = int(np.argmax(~eq.values))
            return f"column {c}: {av.iloc[i]!r} != {bv.iloc[i]!r}"
    return None


def _board(inputs, e, passes):
    bad = {}
    tables = os.path.join(inputs, "tables")
    for p in passes:
        if not os.path.exists(os.path.join(p["dir"], "checked.json")):
            continue
        con = duckdb.connect()
        for f in sorted(os.listdir(tables)):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(tables, f)}')")
        ok = {o["name"]: o["ok"] for o in p["ops"]}
        for q, sql in sorted(_load(os.path.join(p["dir"], "checked.json"))["checked"].items()):
            if not ok.get(q):
                continue  # already failed: it threw
            try:
                got = con.sql(f"SELECT * FROM read_parquet('{p['dir']}/{q}/*.parquet')").df()
                if sql:
                    why = _same(got, con.sql(sql).df())
                else:  # q50_gam_hourly has no oracle: rows only
                    n = e[f"{q}_rows"]
                    why = None if len(got) == n else f"rows {len(got)} != {n}"
            except Exception as ex:
                why = f"compare failed: {ex}"
            if why:  # every execution of a wrong query counts as failed
                for p2 in passes:
                    if any(o2["name"] == q for o2 in p2["ops"]):
                        bad[(p2["dir"], q)] = why
    return bad, {}
