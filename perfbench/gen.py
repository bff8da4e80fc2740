"""Seeded input generator for the benchmark.

Each workload gets a directory of generated files plus `expect.json`,
the invariants the generator knows exactly and the output checks use.
The engine only ever sees the generated files. Same seed and size give
byte-identical inputs.
"""
import datetime as dt
import json
import math
import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.date(1970, 1, 1)


def _write_json(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)


def _days(d):
    return (d - EPOCH).days


# ---------------------------------------------------------------- pull --

PULL_SIZE = dict(sensors=4, detectors=2000, catchup_days=1, nights=2,
                 backfill_snapshots=2)

# FIXTURES A1 edge cases, as rates per sensor-day
ALL_NULL_DAY = 0.05
NULL_RUN_DAY = 0.10
HALF_BUCKET_DAY = 0.10
# shares of sensors, rounded up
LATE_START_8 = 0.25    # first reading on day 8: day-14 history missing
LATE_START_14 = 0.10   # first reading on day 14: day-7 and day-14 missing

# SCD-2 churn per snapshot
CHURN = dict(adds=10, removals=5, attr_changes=10, abandon=2, unabandon=1,
             to_null=3, from_null=2)

DET_ATTRS = ["label", "category", "lane", "field", "abandoned"]
NODE_ATTRS = ["name", "n_type", "transition", "label", "lon", "lat", "lanes",
              "shift", "s_limit", "station_id", "attach_side"]


def _config_universe(rng, n_det):
    """Corridors ⊃ r_nodes ⊃ detectors, five detectors per r_node."""
    n_nodes = n_det // 5
    nodes = []
    for i in range(n_nodes):
        nodes.append(dict(
            name=f"rnd_{i}", n_type=["Station", "Entrance", "Exit"][i % 3],
            transition="None" if i % 4 else "", label=f"Node {i}",
            lon=f"{-93.5 + (i % 97) * 0.01:.2f}", lat=f"{44.8 + (i % 89) * 0.01:.2f}",
            lanes=str(2 + i % 3), shift=str(i % 5), s_limit=str(55 + 5 * (i % 3)),
            station_id=f"S{i}" if i % 3 == 0 else "", attach_side="R",
            corridor=i // 20))
    dets = {}
    for j in range(n_det):
        dets[str(10000 + j)] = dict(
            node=j // 5, label=f"D{j}" if rng.random() > 0.03 else "",
            category="" if j % 7 else "CD", lane=str(1 + j % 4),
            field=str(int(rng.integers(450, 551))),
            abandoned="t" if rng.random() < 0.05 else "f")
    return nodes, dets


def _snapshot_xml(nodes, dets):
    by_node = {}
    for name, d in dets.items():
        by_node.setdefault(d["node"], []).append((name, d))
    out = ['<?xml version="1.0"?>', "<tms_config>"]
    corridor = None
    for i, nd in enumerate(nodes):
        if nd["corridor"] != corridor:
            if corridor is not None:
                out.append(" </corridor>")
            corridor = nd["corridor"]
            out.append(f' <corridor route="U-{corridor}" dir="{"EB" if corridor % 2 else "NB"}">')
        attrs = " ".join(f'{k}="{nd[k]}"' for k in NODE_ATTRS)
        out.append(f"  <r_node {attrs}>")
        for name, d in sorted(by_node.get(i, [])):
            attrs = " ".join(f'{k}="{d[k]}"' for k in DET_ATTRS)
            out.append(f'   <detector name="{name}" {attrs}/>')
        out.append("  </r_node>")
    out += [" </corridor>", "</tms_config>", ""]
    return "\n".join(out)


def _churn(rng, dets, next_id, n_nodes):
    """Next day's detectors: adds, removals, attribute changes, abandoned
    flips both ways and value<->NULL label changes, each on a distinct
    detector. Removed names never return; added names are new."""
    dets = {k: dict(v) for k, v in dets.items()}
    names = sorted(dets)
    pick = list(rng.permutation(len(names)))
    take = lambda n: [names[pick.pop()] for _ in range(n)]
    for name in take(CHURN["removals"]):
        del dets[name]
    for name in take(CHURN["attr_changes"]):
        d = dets[name]
        if rng.random() < 0.5:
            d["lane"] = str(int(d["lane"]) % 4 + 1)
        else:
            d["field"] = str(int(d["field"]) + 7)
    flips = {"f": CHURN["abandon"], "t": CHURN["unabandon"]}
    for name in take(sum(flips.values()) * 4):
        d = dets.get(name)
        if d is not None and flips[d["abandoned"]] > 0:
            flips[d["abandoned"]] -= 1
            d["abandoned"] = "t" if d["abandoned"] == "f" else "f"
    nulls = {"to": CHURN["to_null"], "from": CHURN["from_null"]}
    for name in take(40):
        d = dets.get(name)
        if d is None:
            continue
        if d["label"] and nulls["to"] > 0:
            nulls["to"] -= 1
            d["label"] = ""
        elif not d["label"] and nulls["from"] > 0:
            nulls["from"] -= 1
            d["label"] = f"R{name}"
    for _ in range(CHURN["adds"]):
        dets[str(next_id)] = dict(node=int(rng.integers(0, n_nodes)), label=f"N{next_id}",
                                  category="", lane="1", field="500", abandoned="f")
        next_id += 1
    return dets, next_id


def _parsed(nodes, d):
    """A detector's compared attribute values as the engine parses them:
    empty strings are NULL, numbers are numbers."""
    nd = nodes[d["node"]]
    v = lambda s: s if s != "" else None
    num = lambda s: float(s) if s != "" else None
    return (v(d["label"]), v(d["category"]), v(d["lane"]), num(d["field"]),
            v(d["abandoned"]), nd["name"], v(nd["n_type"]), v(nd["transition"]),
            v(nd["label"]), num(nd["lon"]), num(nd["lat"]), num(nd["lanes"]),
            num(nd["shift"]), num(nd["s_limit"]), v(nd["station_id"]),
            v(nd["attach_side"]), f"U-{nd['corridor']}",
            "EB" if nd["corridor"] % 2 else "NB")


def _scd2_expect(nodes, snaps):
    """Changelog rows per (date, change) and the final dimension, following
    the engine's SCD-2 merge: inserts and removals log one row each, every
    changed attribute cell logs one row, an abandoned flip either way
    deactivates, and a deactivated key that stays absent logs nothing."""
    cols = ["DETECTOR_LABEL", "DETECTOR_CATEGORY", "DETECTOR_LANE", "DETECTOR_FIELD",
            "DETECTOR_ABANDONED", "NODE_NAME", "NODE_N_TYPE", "NODE_TRANSITION",
            "NODE_LABEL", "NODE_LON", "NODE_LAT", "NODE_LANES", "NODE_SHIFT",
            "NODE_S_LIMIT", "NODE_STATION_ID", "NODE_ATTACH_SIDE", "CORRIDOR_ROUTE",
            "CORRIDOR_DIR"]
    date0, dets0 = snaps[0]
    state = {k: [_parsed(nodes, d), False] for k, d in dets0.items()}
    log = {}
    for date, dets in snaps[1:]:
        c = Counter()
        for name, d in dets.items():
            new = _parsed(nodes, d)
            if name not in state:
                c["New Detector Added"] += 1
                state[name] = [new, False]
                continue
            old = state[name][0]
            for col, a, b in zip(cols, old, new):
                if a != b:
                    c[f"Attribute Changed: {col}"] += 1
            if old[4] != new[4] and {old[4], new[4]} == {"f", "t"}:
                state[name][1] = True
            state[name][0] = new
        for name, st in state.items():
            if name not in dets and not st[1]:
                c["Detector Removed"] += 1
                st[1] = True
        log[date] = dict(c)
    return log, len(state), sum(1 for st in state.values() if st[1])


def gen_pull(seed, out, size):
    rng = np.random.default_rng([seed, 1])
    S, C, K, B = size["sensors"], size["catchup_days"], size["nights"], size["backfill_snapshots"]
    d0 = dt.date(2023, 3, 1)
    ndays = 14 + 7 + C + K
    day = lambda i: d0 + dt.timedelta(days=i)
    asof_boot = day(20 + 3)
    asof_catch = day(20 + C + 3)

    # -- config snapshots: B backfill days ending at the catch-up run,
    #    then one per night
    nodes, dets = _config_universe(rng, size["detectors"])
    next_id = 10000 + size["detectors"]
    snap_dates = [asof_catch - dt.timedelta(days=B - 1 - i) for i in range(B)] + \
                 [asof_catch + dt.timedelta(days=k) for k in range(1, K + 1)]
    snaps = []
    for i, sd in enumerate(snap_dates):
        if i > 0:
            dets, next_id = _churn(rng, dets, next_id, len(nodes))
        snaps.append((sd.isoformat(), dets))
    for sub in ("config_backfill", "config_nightly"):
        os.makedirs(f"{out}/{sub}", exist_ok=True)
    for i, (sd, dd) in enumerate(snaps):
        sub = "config_backfill" if i < B else "config_nightly"
        with open(f"{out}/{sub}/metro_config_{sd.replace('-', '')}.xml", "w") as f:
            f.write(_snapshot_xml(nodes, dd))
    changelog, dim_rows, dim_deactivated = _scd2_expect(nodes, snaps)

    # -- 30-second readings: sensors drawn from detectors present in every
    #    snapshot, so each has a dimension row
    always = sorted(set.intersection(*(set(d) for _, d in snaps)))
    sensors = sorted(rng.choice(always, S, replace=False).tolist())
    start = np.zeros(S, dtype=int)
    late = rng.permutation(np.arange(1, S))  # sensor 0 keeps its full history
    n8, n14 = math.ceil(S * LATE_START_8), math.ceil(S * LATE_START_14)
    start[late[:n8]] = 8
    start[late[n8:n8 + n14]] = 14
    slot = np.arange(2880)
    hour = (slot // 120).astype(np.int32)
    minute = (slot % 120) / 2.0
    profile = 1.0 + 6.0 * np.exp(-((slot / 120.0 - 8) ** 2) / 4) + \
        5.0 * np.exp(-((slot / 120.0 - 17) ** 2) / 5)
    truth = {}  # date -> {sensor: volume sum} for sensor-days with data
    edge = Counter()
    raw_dir = f"{out}/raw"
    for i in range(ndays):
        date = day(i)
        cols = {k: [] for k in ("sensor", "hour", "min", "volume", "occupancy")}
        for s, name in enumerate(sensors):
            if i < start[s]:
                continue
            vol = np.minimum(rng.poisson(profile), 40).astype(float)
            occ = np.minimum(vol * 35 + rng.integers(0, 30, 2880), 1800)
            null = np.zeros(2880, bool)
            r = rng.random(3)
            if r[0] < ALL_NULL_DAY:
                null[:] = True
                edge["all_null_days"] += 1
            else:
                if r[1] < NULL_RUN_DAY:
                    a = int(rng.integers(0, 2700))
                    null[a:a + int(rng.integers(30, 200))] = True
                    edge["null_runs"] += 1
                if r[2] < HALF_BUCKET_DAY:
                    b = int(rng.integers(0, 96))
                    null[b * 30:(b + 1) * 30:2] = True
                    edge["half_empty_buckets"] += 1
            vol[null] = np.nan
            occ[null] = np.nan
            if not null.all():
                truth.setdefault(date.isoformat(), {})[name] = int(np.nansum(vol))
            cols["sensor"].append(np.full(2880, name, dtype=object))
            cols["hour"].append(hour)
            cols["min"].append(minute)
            cols["volume"].append(vol)
            cols["occupancy"].append(occ)
        cat = {k: np.concatenate(v) for k, v in cols.items()}
        tbl = pa.table({
            "sensor": pa.array(cat["sensor"], pa.string()),
            "hour": pa.array(cat["hour"], pa.int32()),
            "min": pa.array(cat["min"], pa.float64()),
            "volume": pa.array(cat["volume"], pa.float64(), from_pandas=True).cast(pa.int32()),
            "occupancy": pa.array(cat["occupancy"], pa.float64(), from_pandas=True).cast(pa.int32()),
        })
        os.makedirs(f"{raw_dir}/date={date.isoformat()}", exist_ok=True)
        pq.write_table(tbl, f"{raw_dir}/date={date.isoformat()}/part-0.parquet")
    edge["late_start_day8"] = int((start == 8).sum())
    edge["late_start_day14"] = int((start == 14).sum())

    legs = {"bootstrap": [day(14 + j) for j in range(7)],
            "catchup": [day(21 + j) for j in range(C)]}
    for k in range(1, K + 1):
        legs[f"night_{k}"] = [day(20 + C + k)]
    plan = {"asof_bootstrap": asof_boot.isoformat(), "asof_catchup": asof_catch.isoformat(),
            "nights": str(K)}
    for k in range(1, K + 1):
        plan[f"asof_{k}"] = (asof_catch + dt.timedelta(days=k)).isoformat()
        plan[f"snapshot_{k}"] = f"metro_config_{plan[f'asof_{k}'].replace('-', '')}.xml"
    _write_json(f"{out}/plan.json", plan)
    expect = {
        "legs": {op: [d.isoformat() for d in ds] for op, ds in legs.items()},
        "sensor_days": {d: sorted(v) for d, v in truth.items()},
        "volume_sum": {d: sum(v.values()) for d, v in truth.items()},
        "changelog": changelog,
        "backfill_dates": [d for d, _ in snaps[1:B]],
        "night_dates": {f"night_{k}": plan[f"asof_{k}"] for k in range(1, K + 1)},
        "dim_rows": dim_rows, "dim_deactivated": dim_deactivated,
        "edge_cases": dict(edge),
    }
    _write_json(f"{out}/expect.json", expect)


# ------------------------------------------------------------- analyze --

# node classes: G passes QAQC, L fails test 2 (low volume), O fails test 3
# (a 5-month outage in a training year), P fails test 1 (one detector
# stops reporting in 2018, so almost no hour has every detector)
ANALYZE_SIZE = dict(good=3, low=1, outage=1, partial=1, detectors_per_node=3)
FACT_START = dt.date(2018, 1, 1)
FACT_END = dt.date(2020, 12, 31)
TRAIN_END = dt.date(2020, 1, 1)
TRAIN_YEARS = [2018, 2019]
GRID = {"hour": ("2020-01-01 00:00:00", "2030-12-31 23:00:00"),
        "day": ("2020-01-01 00:00:00", "2030-12-31 00:00:00")}
ABSENT_DAY = 0.01
NULL_SLOT = 0.003


def _qaqc(vnum, vsum, exists, years, ndet, scale, with_years):
    """Admitted rows of one node at one grain: test 1 (all detectors
    report), test 2 (> 100 rows, median >= 40 * scale), test 3 (>= 75%
    of 365 * 24 / scale rows in every training year the node has rows)."""
    t1 = exists & (vnum == ndet)
    if t1.sum() <= 100 or np.median(vsum[t1]) < 40 * scale:
        return None
    if with_years:
        expected = 365.0 * 24 / scale
        pcts = [(t1 & (years == y)).sum() / expected for y in TRAIN_YEARS
                if (t1 & (years == y)).any()]
        if not pcts or min(pcts) < 0.75:
            return None
    return t1


def gen_analyze(seed, out, size):
    rng = np.random.default_rng([seed, 2])
    kinds = (["good"] * size["good"] + ["low"] * size["low"] +
             ["outage"] * size["outage"] + ["partial"] * size["partial"])
    kinds = [kinds[i] for i in rng.permutation(len(kinds))]
    ndet = size["detectors_per_node"]
    ndays = (FACT_END - FACT_START).days + 1
    dates = np.array([FACT_START + dt.timedelta(days=i) for i in range(ndays)])
    years = np.array([d.year for d in dates])
    day0 = _days(FACT_START)
    slot = np.arange(96)
    prof = 0.4 + 1.6 * np.exp(-((slot / 4 - 8) ** 2) / 3) + 1.4 * np.exp(-((slot / 4 - 17) ** 2) / 4)
    wd = np.array([0.7 if d.weekday() >= 5 else 1.0 for d in dates])
    season = 1 + 0.15 * np.sin(2 * np.pi * np.arange(ndays) / 365.25)

    fact_cols = {k: [] for k in ("det", "day", "slot", "vol")}
    det_names, det_node, det_route = [], [], []
    expect_nodes = {}
    for n, kind in enumerate(kinds):
        node = f"N{n:02d}"
        route = f"U-{n % 3}"
        present = rng.random((ndet, ndays)) >= ABSENT_DAY
        if kind == "outage":
            a = (dt.date(2019, 3, 1) - FACT_START).days
            present[:, a:a + 153] = False
        if kind == "partial":
            present[0, (dt.date(2018, 4, 1) - FACT_START).days:] = False
        level = 0.8 if kind == "low" else rng.uniform(18, 30)
        vol = rng.poisson(level * prof[None, None, :] * (wd * season)[None, :, None]
                          if kind != "low" else level, (ndet, ndays, 96)).astype(float)
        vol[rng.random(vol.shape) < NULL_SLOT] = np.nan
        vol[~present] = np.nan
        for d in range(ndet):
            di = len(det_names)
            det_names.append(f"{n:02d}{d}")
            det_node.append(node)
            det_route.append(route)
            days_i = np.nonzero(present[d])[0]
            fact_cols["det"].append(np.full(len(days_i) * 96, di, np.int32))
            fact_cols["day"].append(np.repeat(days_i, 96).astype(np.int32))
            fact_cols["slot"].append(np.tile(slot, len(days_i)).astype(np.int32))
            fact_cols["vol"].append(vol[d, days_i].ravel())

        # node-hour and node-day truth, as the rollup builds them
        hv = vol.reshape(ndet, ndays, 24, 4)
        h_nonnull = ~np.isnan(hv).all(axis=3)                  # det x day x hour
        h_sum = np.nansum(hv, axis=3)
        h_exists = present.any(axis=0)[:, None].repeat(24, 1)  # day x hour
        h_vnum = h_nonnull.sum(axis=0)
        h_vsum = np.where(h_nonnull, h_sum, 0).sum(axis=0)
        d_nonnull = ~np.isnan(vol).all(axis=2)
        d_exists = present.any(axis=0)
        d_vnum = d_nonnull.sum(axis=0)
        d_vsum = np.nansum(vol, axis=2).sum(axis=0)
        train = np.array([d < TRAIN_END for d in dates])
        hy = years[:, None].repeat(24, 1)
        th = _qaqc(h_vnum[train], h_vsum[train], h_exists[train], hy[train], ndet, 1, True)
        td = _qaqc(d_vnum[train], d_vsum[train], d_exists[train], years[train], ndet, 24, True)
        ch = _qaqc(h_vnum[~train], h_vsum[~train], h_exists[~train], hy[~train], ndet, 1, False)
        expect_nodes[node] = dict(
            kind=kind,
            hour_rows=int(th.sum()) if th is not None else 0,
            day_rows=int(td.sum()) if td is not None else 0,
            diff_rows=int(ch.sum()) if (ch is not None and th is not None) else 0,
            diff_volume=int(h_vsum[~train][ch].sum()) if (ch is not None and th is not None) else 0)

    det = np.concatenate(fact_cols["det"])
    dayi = np.concatenate(fact_cols["day"])
    sl = np.concatenate(fact_cols["slot"])
    vol = np.concatenate(fact_cols["vol"])
    n = len(det)
    ts = ((day0 + dayi).astype(np.int64) * 86400 + sl.astype(np.int64) * 900) * 1_000_000
    names = pa.array(det_names)
    vol_a = pa.array(vol, pa.float64(), from_pandas=True).cast(pa.int32())
    speed = np.round(rng.uniform(35, 70, n), 1)
    fact = pa.table({
        "DETECTOR_NAME": names.take(pa.array(det)),
        "START_DATETIME": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "START_DATE": pa.array((day0 + dayi).astype(np.int32), pa.date32()),
        "VOLUME_PCT_NULL": pa.array(np.where(np.isnan(vol), 100.0, 0.0)).cast(pa.decimal128(4, 1)),
        "VOLUME_SUM": vol_a,
        "VOLUME_SUM_IMPUTE": vol_a,
        "OCCUPANCY_PCT_NULL": pa.array(np.where(np.isnan(vol), 100.0, 0.0)).cast(pa.decimal128(4, 1)),
        "OCCUPANCY_SUM": pa.array(np.nan_to_num(vol) * 30, pa.float64()).cast(pa.int32()),
        "OCCUPANCY_SUM_IMPUTE": pa.array(np.nan_to_num(vol) * 30, pa.float64()).cast(pa.int32()),
        "SPEED": pa.array(speed).cast(pa.decimal128(4, 1), safe=False),
        "NODE_NAME": pa.array(det_node).take(pa.array(det)),
        "CORRIDOR_ROUTE": pa.array(det_route).take(pa.array(det)),
    })
    os.makedirs(f"{out}/wh/RTMC_15MIN", exist_ok=True)
    per = (n + 7) // 8
    for i in range(8):
        pq.write_table(fact.slice(i * per, per), f"{out}/wh/RTMC_15MIN/part-{i}.parquet")
    nd = len(det_names)
    dim = pa.table({
        "DETECTOR_NAME": names,
        "DETECTOR_FIELD": pa.array([500.0] * nd),
        "DETECTOR_ABANDONED": pa.array(["f"] * nd),
        "NODE_NAME": pa.array(det_node),
        "CORRIDOR_ROUTE": pa.array(det_route),
        "LAST_CHANGE_DATE": pa.array([_days(dt.date(2017, 1, 1))] * nd, pa.date32()),
        "START_DATE": pa.array([_days(dt.date(2017, 1, 1))] * nd, pa.date32()),
        "END_DATE": pa.array([_days(dt.date(2100, 1, 1))] * nd, pa.date32()),
        "DEACTIVATE": pa.array([False] * nd),
    })
    os.makedirs(f"{out}/wh/RTMC_CONFIG_HISTORICAL", exist_ok=True)
    pq.write_table(dim, f"{out}/wh/RTMC_CONFIG_HISTORICAL/part-0.parquet")

    def grid_len(unit):
        a, b = (dt.datetime.fromisoformat(x) for x in GRID[unit])
        return int((b - a).total_seconds() // (3600 if unit == "hour" else 86400)) + 1
    plan = {"train_end": TRAIN_END.isoformat(),
            "train_years": ",".join(map(str, TRAIN_YEARS))}
    for unit in GRID:
        plan[f"grid_start_{unit}"], plan[f"grid_end_{unit}"] = GRID[unit]
    _write_json(f"{out}/plan.json", plan)
    _write_json(f"{out}/expect.json", {
        "nodes": expect_nodes, "grid_hour": grid_len("hour"), "grid_day": grid_len("day")})


# ---------------------------------------------------------------- board --

BOARD_SIZE = dict(orders=7500, customers=750, parts=1000, suppliers=50,
                  documents=400, embeddings=400, events=10000, users=150)
WORDS = ("key agg row scan slow fast table value part hash merge batch spark a "
         "the line sort window column data customer order query join small big "
         "stream group filter vector").split()


def gen_board(seed, out, size):
    """TPC-H-shaped tables plus documents, embeddings and events, in the
    layout and value ranges of the TESTDATA.md fixtures."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(f"{out}/tables", exist_ok=True)
    w = lambda name, t: pq.write_table(t, f"{out}/tables/{name}.parquet")
    ts = lambda days: pa.array((np.asarray(days, np.int64) * 86400) * 1_000_000, pa.timestamp("us"))

    w("region", pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                          "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    w("nation", pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                          "n_name": [f"NATION_{i}" for i in range(25)],
                          "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    nc, ns, np_, no = size["customers"], size["suppliers"], size["parts"], size["orders"]
    w("customer", pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                    "MACHINERY"], nc)}))
    w("supplier", pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)}))
    w("part", pa.table({
        "p_partkey": pa.array(range(np_), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(["small", "red", "blue", "hot", "old"], np_),
            rng.choice(["ring", "widget", "bolt", "plate", "rod"], np_))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, np_)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], np_),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(np_) * 0.1 % 100, 1)}))
    d95 = _days(dt.date(1995, 1, 1))
    odate = d95 + rng.integers(0, 2400, no)
    w("orders", pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["O", "F", "P"], no),
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": ts(odate),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], no)}))
    nl = no * 4
    lord = rng.integers(0, no, nl)
    qty = rng.integers(1, 51, nl).astype(float)
    w("lineitem", pa.table({
        "l_orderkey": pa.array(lord, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["O", "F"], nl),
        "l_shipdate": ts(odate[lord] + rng.integers(1, 122, nl))}))

    # documents: bags of words; 5% are an earlier document plus " dup"
    nd = size["documents"]
    texts = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    w("documents", pa.table({
        "doc_id": pa.array(range(nd), pa.int64()), "text": texts,
        "lang": rng.choice(["en", "zh", "de", "fr", "es"], nd, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}))
    ne = size["embeddings"]
    centers = rng.normal(0, 0.15, (10, 64))
    label = rng.integers(0, 10, ne)
    emb = (centers[label] + rng.normal(0, 0.05, (ne, 64))).astype(np.float32)
    w("embeddings", pa.table({
        "vec_id": pa.array(range(ne), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())}))
    nev = size["events"]
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()
    evts = np.sort(rng.uniform(0, 30 * 86400, nev))
    w("events", pa.table({
        "event_id": pa.array(range(nev), pa.int64()),
        "ts": pa.array(((t0 + evts) * 1_000_000).astype(np.int64), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, size["users"], nev), pa.int64()),
        "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], nev),
        "value": np.round(rng.uniform(0.01, 50, nev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, nev)]}))
    # q50 fits one GAM per event type with >= 50 hourly rows and scores a
    # 168-hour grid
    _write_json(f"{out}/expect.json", {"q50_gam_hourly_rows": 5 * 168})


GENERATORS = {"pull_nightly": (gen_pull, PULL_SIZE),
              "analyze_model": (gen_analyze, ANALYZE_SIZE),
              "operator_board": (gen_board, BOARD_SIZE)}
