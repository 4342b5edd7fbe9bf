"""Seeded input generator for the benchmark.

Every input the program sees comes from here, derived from one seed:
the same seed writes identical bytes, a new seed writes new inputs.
Sizes are fixed by the caller, so two seeds differ in values only.

Flight inputs (``flight_queue``):

* ``airports.csv`` - a national-size registry (15,165 rows, the
  reference's Airports.csv count and well above the gridded
  nearest-airport threshold) scattered over the CONUS box, in the
  CLI's AIRPORTS_CSV_SCHEMA column order;
* ``runways.csv`` - zero to two runways per airport, in
  RUNWAYS_CSV_SCHEMA order (airports without runways exercise the
  no-runway path of the approach pipeline);
* telemetry batches in TELEMETRY_COLS order. A batch is one operator's
  flights: each takes off near the operator's base airport and flies
  1-4 legs to nearby airports, ending each leg in a straight-in final
  to a runway with a full stop, a touch-and-go or a go-around, or with
  the recording cut in cruise (no landing). Bases are spread over the
  whole registry, so batches land in many grid cells.

Fleet inputs (the traced ``flight_queue`` run's re-analysis): an
``aircraft`` table mapping each flight to one of a few aircraft types,
and a ``thresholds`` table with one row per type, overriding a few of
the reference's constants.

Analyst inputs (``analyst_mix``): the catalog's star schema plus the
events, documents and embeddings tables at sf0.1 row counts, in the
column names and types the catalog reads.

Run standalone to inspect the inputs:

    python3 perfbench/gen.py --seed 1 --out /tmp/inputs

It writes the registry, the first flight batch a run hands to the
program, that batch's fleet tables and the analyst tables.
"""

from __future__ import annotations

import argparse
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_AIRPORTS = 15_165
BATCH_FLIGHTS = 10         # flights per work-queue batch
CONUS_LAT = (25.0, 49.0)
CONUS_LON = (-124.0, -67.0)
MI_PER_DEG_LAT = 69.05


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per input, so resizing one input never
    changes the bytes of another."""
    key = int.from_bytes(stream.encode(), "little") % (2**63)
    return np.random.default_rng([seed, key])


# ---------------------------------------------------------------------------
# airports and runways
# ---------------------------------------------------------------------------


class Dims:
    """The generated airport registry, kept in memory so the flight
    generator can route between real rows of it."""

    def __init__(self, seed: int):
        r = _rng(seed, "airports")
        n = N_AIRPORTS
        self.lat = np.round(r.uniform(*CONUS_LAT, n), 6)
        self.lon = np.round(r.uniform(*CONUS_LON, n), 6)
        self.elev = np.round(r.uniform(0.0, 3000.0, n), 0)
        self.code = np.array([_code(i) for i in r.permutation(n)])
        # 0, 1 or 2 runways; magnetic variation per airport
        self.n_rwy = r.choice([0, 1, 2], size=n, p=[0.15, 0.55, 0.30])
        self.decl = np.round(r.uniform(-8.0, 8.0, n), 1)
        self.rwy_mag = np.round(r.uniform(0, 36, (n, 2))).astype(int) * 10 % 360
        self.rwy_mag[:, 1] = (self.rwy_mag[:, 0] + r.choice([60, 90, 120], n)) % 360
        self.rwy_dlat = np.round(r.uniform(-0.002, 0.002, (n, 2)), 6)
        self.rwy_dlon = np.round(r.uniform(-0.002, 0.002, (n, 2)), 6)

    def write(self, out: str) -> tuple[str, str]:
        ap = os.path.join(out, "airports.csv")
        rw = os.path.join(out, "runways.csv")
        with open(ap, "w") as f:
            f.write("airport_code,airport_name,city,state_code,latitude,"
                    "longitude,elevation_ft\n")
            for i in range(N_AIRPORTS):
                f.write(f"{self.code[i]},{self.code[i]} Field,City {i % 997},"
                        f"S{i % 50:02d},{self.lat[i]!r},{self.lon[i]!r},"
                        f"{self.elev[i]!r}\n")
        with open(rw, "w") as f:
            f.write("airport_code,runway_code,magnetic_rwy_hdg,true_rwy_hdg,"
                    "center_lat,center_long,elevation_ft\n")
            for i in range(N_AIRPORTS):
                for k in range(self.n_rwy[i]):
                    lat, lon = self.runway_center(i, k)
                    mag = float(self.rwy_mag[i, k])
                    f.write(f"{self.code[i]},{_rwy_code(mag)},{mag!r},"
                            f"{self.runway_true(i, k)!r},{lat!r},{lon!r},"
                            f"{self.elev[i]!r}\n")
        return ap, rw

    def runway_center(self, i: int, k: int) -> tuple[float, float]:
        return (round(float(self.lat[i] + self.rwy_dlat[i, k]), 6),
                round(float(self.lon[i] + self.rwy_dlon[i, k]), 6))

    def runway_true(self, i: int, k: int) -> float:
        return round(float((self.rwy_mag[i, k] + self.decl[i]) % 360), 1)


def _code(i: int) -> str:
    a = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    return "K" + a[i // 676 % 26] + a[i // 26 % 26] + a[i % 26] + str(i // 17576)


def _rwy_code(mag: float) -> str:
    return f"{int(round(mag / 10)) % 36 or 36:02d}"


# ---------------------------------------------------------------------------
# flights
# ---------------------------------------------------------------------------


def _leg_target(r, dims: Dims, cur: int) -> int:
    """A destination 6-20 mi away (Manhattan 0.08-0.3 deg), so the
    track stays inside the dense part of the registry."""
    d = np.abs(dims.lat - dims.lat[cur]) + np.abs(dims.lon - dims.lon[cur])
    cand = np.flatnonzero((d > 0.08) & (d < 0.3))
    if len(cand) == 0:  # isolated field: the ten nearest others
        cand = np.argsort(d)[1:11]
    return int(cand[r.integers(len(cand))])


def _flight(r, dims: Dims, fid: int, t0: int, cur: int) -> dict[str, np.ndarray]:
    """One flight's ticks (1 Hz), taking off from airport ``cur``.
    Altitude is the lower envelope of a climb from the origin, the
    cruise level and a descent onto the next final; the final is a
    straight-in along the runway course."""
    cols = {k: [] for k in ("lat", "lon", "msl", "ias", "vsi", "hdg")}
    lat, lon = float(dims.lat[cur]), float(dims.lon[cur])
    msl_ground = float(dims.elev[cur])
    n_legs = int(r.choice([1, 2, 3, 4], p=[0.3, 0.35, 0.2, 0.15]))
    cut_last = r.random() < 0.15       # recording ends in cruise

    def emit(la, lo, msl, ias, vsi, hdg):
        cols["lat"].append(la)
        cols["lon"].append(lo)
        cols["msl"].append(msl)
        cols["ias"].append(ias)
        cols["vsi"].append(vsi)
        cols["hdg"].append(hdg)

    # ground run before the first takeoff
    for k in range(int(r.integers(5, 30))):
        emit(np.full(1, lat), np.full(1, lon), np.full(1, msl_ground),
             np.full(1, min(60.0, 3.0 * k)), np.zeros(1), np.full(1, 0.0))
    for leg in range(n_legs):
        dst = _leg_target(r, dims, cur)
        k_rwy = int(r.integers(dims.n_rwy[dst])) if dims.n_rwy[dst] else -1
        if k_rwy >= 0:
            c_lat, c_lon = dims.runway_center(dst, k_rwy)
            course = dims.runway_true(dst, k_rwy)
            mag = float(dims.rwy_mag[dst, k_rwy])
        else:
            c_lat, c_lon = float(dims.lat[dst]), float(dims.lon[dst])
            course = float(r.uniform(0, 360))
            mag = (course - float(dims.decl[dst])) % 360
        e_dst = float(dims.elev[dst])
        coslat = math.cos(math.radians(c_lat))
        ux, uy = math.sin(math.radians(course)), math.cos(math.radians(course))

        def on_course(d_mi):
            """Point d_mi before the runway centre on the final course
            (negative d = past it)."""
            return (c_lat - d_mi * uy / MI_PER_DEG_LAT,
                    c_lon - d_mi * ux / (MI_PER_DEG_LAT * coslat))

        # en route: straight line to a point 3 mi out on the final
        e_lat, e_lon = on_course(3.0)
        dist_deg = math.hypot(e_lat - lat, (e_lon - lon) * coslat)
        n_cruise = max(40, int(dist_deg / 0.0007))  # ~150 kt
        f = np.arange(1, n_cruise + 1) / n_cruise
        la = lat + (e_lat - lat) * f
        lo = lon + (e_lon - lon) * f
        cruise_msl = max(msl_ground, e_dst) + float(r.uniform(2000, 3500))
        climb = msl_ground + 13.0 * np.arange(1, n_cruise + 1)
        descent = e_dst + 1350.0 + 12.0 * (n_cruise - np.arange(1, n_cruise + 1))
        msl = np.minimum(np.minimum(climb, cruise_msl), descent)
        vsi = np.diff(msl, prepend=msl_ground) * 60.0
        trk = math.degrees(math.atan2((e_lon - lon) * coslat, e_lat - lat)) % 360
        emit(la, lo, msl, r.normal(140, 5, n_cruise), vsi,
             np.full(n_cruise, round(trk, 1)))
        if cut_last and leg == n_legs - 1:
            break

        # final: 3 mi -> threshold at ~65 kt, AGL = 450 ft per mile
        kind = r.choice(["stop", "touch", "go"], p=[0.4, 0.35, 0.25])
        n_fin = int(r.integers(150, 175))
        d = 3.0 * (1 - np.arange(1, n_fin + 1) / n_fin)
        agl = 450.0 * d
        if kind == "go":
            floor = float(r.uniform(55, 110))
            agl = np.maximum(agl, floor)
            n_fin = int(np.argmax(agl <= floor)) + 3
            d, agl = d[:n_fin], agl[:n_fin]
        unstable = r.random() < 0.35
        hdg_noise = r.normal(0, 9.0 if unstable else 2.5, n_fin)
        xt_ft = r.normal(0, 60.0 if unstable else 20.0, n_fin)
        la = np.array([on_course(x)[0] for x in d]) + xt_ft * ux / 364_000.0
        lo = np.array([on_course(x)[1] for x in d]) - xt_ft * uy / (364_000.0 * coslat)
        ias = r.normal(66, 9.0 if unstable else 4.0, n_fin)
        vsi = np.diff(agl, prepend=agl[0] + 9.0) * 60.0 + r.normal(0, 120, n_fin)
        emit(la, lo, e_dst + agl, ias, vsi, np.round((mag + hdg_noise) % 360, 1))

        if kind == "go":
            # climb straight out past the field
            n_out = 60
            d_out = d[-1] - 0.02 * np.arange(1, n_out + 1)
            agl_out = agl[-1] + 13.0 * np.arange(1, n_out + 1)
            gias = r.normal(78, 3, n_out)
        else:
            # roll (or skim) past the field until > 1 mi beyond it,
            # below 50 ft, then climb
            n_roll = 80
            d_out = -1.3 * np.arange(1, n_roll + 1) / n_roll
            if kind == "stop":
                agl_out = np.zeros(n_roll)
                gias = np.concatenate([np.linspace(60, 20, 40), np.linspace(20, 60, 40)])
            else:
                agl_out = np.concatenate([np.full(12, float(r.uniform(0, 3))),
                                          np.full(n_roll - 12, 20.0)])
                gias = r.normal(58, 2, n_roll)
            n_out = n_roll
        la = np.array([on_course(x)[0] for x in d_out])
        lo = np.array([on_course(x)[1] for x in d_out])
        vsi = np.diff(agl_out, prepend=agl[-1]) * 60.0
        emit(la, lo, e_dst + agl_out, gias, vsi, np.full(n_out, round(mag, 1)))
        cur, lat, lon = dst, float(la[-1]), float(lo[-1])
        msl_ground = e_dst + float(agl_out[-1])

    n = sum(len(x) for x in cols["lat"])
    out = {
        "flight": np.full(n, fid, dtype=np.int64),
        "time": t0 + np.arange(n, dtype=np.int64),
        "msl_altitude": np.round(np.concatenate(cols["msl"]), 2),
        "indicated_airspeed": np.round(np.concatenate(cols["ias"]), 2),
        "vertical_airspeed": np.round(np.concatenate(cols["vsi"]), 2),
        "heading": np.round(np.concatenate(cols["hdg"]), 1),
        "latitude": np.round(np.concatenate(cols["lat"]), 7),
        "longitude": np.round(np.concatenate(cols["lon"]), 7),
    }
    # sensor dropouts: the pipeline's NULL-row filter drops these ticks
    drop = r.random(n) < 0.002
    out["indicated_airspeed"] = np.where(drop, np.nan, out["indicated_airspeed"])
    return out


TELEMETRY_SCHEMA = pa.schema([
    ("flight", pa.int64()),
    ("time", pa.int64()),
    ("msl_altitude", pa.float64()),
    ("indicated_airspeed", pa.float64()),
    ("vertical_airspeed", pa.float64()),
    ("heading", pa.float64()),
    ("latitude", pa.float64()),
    ("longitude", pa.float64()),
])


def batch_table(seed: int, dims: Dims, batch: int, n_flights: int) -> pa.Table:
    """Batch ``batch`` of ``n_flights`` flights (ids batch * n_flights + 1
    onwards), all departing from fields near one base airport."""
    r = _rng(seed, f"batch-{batch}")
    base = int(r.integers(N_AIRPORTS))
    d = np.abs(dims.lat - dims.lat[base]) + np.abs(dims.lon - dims.lon[base])
    near = np.argsort(d)[:8]
    parts = []
    for k in range(n_flights):
        fid = batch * n_flights + k + 1
        parts.append(_flight(r, dims, fid, 1_700_000_000 + fid * 100_000,
                             int(near[r.integers(len(near))])))
    arrays = []
    for name in TELEMETRY_SCHEMA.names:
        v = np.concatenate([p[name] for p in parts])
        mask = np.isnan(v) if v.dtype.kind == "f" else None
        arrays.append(pa.array(v, mask=mask))
    return pa.Table.from_arrays(arrays, schema=TELEMETRY_SCHEMA)


# a few aircraft types, so analyze_fleet takes its per-type path; each
# type overrides some of the reference's thresholds
AIRCRAFT_TYPES = 4


def fleet_tables(seed: int, flight_ids) -> tuple[pa.Table, pa.Table]:
    """``aircraft`` (id, aircraft_type) for the given flights and
    ``thresholds`` (aircraft_id = type, then Thresholds fields)."""
    r = _rng(seed, "fleet")
    ids = np.asarray(sorted(flight_ids), dtype=np.int64)
    aircraft = pa.table({
        "id": ids,
        "aircraft_type": pa.array(r.integers(0, AIRCRAFT_TYPES, len(ids)), pa.int32()),
    })
    thresholds = pa.table({
        "aircraft_id": pa.array(np.arange(AIRCRAFT_TYPES), pa.int32()),
        "max_ias": np.round(r.uniform(70.0, 85.0, AIRCRAFT_TYPES), 1),
        "min_ias": np.round(r.uniform(50.0, 60.0, AIRCRAFT_TYPES), 1),
        "max_heading_error": np.round(r.uniform(6.0, 14.0, AIRCRAFT_TYPES), 1),
        "max_crosstrack_ft": np.round(r.uniform(40.0, 70.0, AIRCRAFT_TYPES), 1),
    })
    return aircraft, thresholds


def write_parquet(table: pa.Table, path: str) -> str:
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))
    return path


# ---------------------------------------------------------------------------
# analyst tables (sf0.1 row counts)
# ---------------------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PADJ = ["blue", "cold", "hot", "new", "red", "small", "green", "old"]
_PNOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "nut", "pipe"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
_VOCAB = ("a agg batch big column data fast filter group hash join key line "
          "merge order part query row scan slow small sort spark stream table "
          "value window index cache plan shuffle").split()


def _ts(days_from: str, micros: np.ndarray) -> pa.Array:
    base = np.datetime64(days_from, "us").astype(np.int64)
    return pa.array(base + micros.astype(np.int64), pa.timestamp("us"))


def analyst_tables(seed: int) -> dict[str, pa.Table]:
    r = _rng(seed, "analyst")
    scale = 0.1
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_li = int(1_500_000 * scale), int(6_000_000 * scale)
    n_ev, n_users = int(1_000_000 * scale), max(15, int(15_000 * scale))
    n_docs, n_emb = int(50_000 * scale), int(20_000 * scale)
    day_us = 86_400 * 10**6

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(_SEGMENTS)[r.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{_PADJ[a]} {_PNOUN[b]}" for a, b in
                   zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": np.array(_PTYPES)[r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + r.integers(0, 1000, n_part) / 10.0, 2),
    })
    o_date = r.integers(0, 2404, n_ord) * day_us   # 1995-01-01 .. 2001-08
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", o_date),
        "o_orderpriority": np.array(_PRIORITIES)[r.integers(0, 5, n_ord)],
    })
    # 1-7 lines per order, trimmed to the sf's line count
    per = r.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), per)[:n_li]
    lnum = (np.arange(len(okey)) - np.repeat(np.cumsum(per) - per, per)[:n_li] + 1)
    n_li = len(okey)
    qty = r.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": r.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
        "l_shipdate": _ts("1995-01-01",
                          np.asarray(o_date)[okey] + r.integers(1, 122, n_li) * day_us),
    })
    ev_ts = np.sort(r.integers(0, 30 * day_us, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts("2024-01-01", ev_ts),
        "user_id": r.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(_EVENT_TYPES)[r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(60.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    })
    # documents: ~1/5 are near-duplicates of an earlier doc (a few
    # tokens replaced), a handful exact duplicates
    vocab = np.array(_VOCAB)
    texts = []
    for i in range(n_docs):
        if i > 10 and r.random() < 0.2:
            toks = texts[int(r.integers(i))].split(" ")
            if r.random() < 0.9:
                for j in r.integers(0, len(toks), max(1, len(toks) // 12)):
                    toks[j] = vocab[r.integers(len(vocab))]
        else:
            toks = list(vocab[r.integers(0, len(vocab), int(r.integers(8, 96)))])
        texts.append(" ".join(toks))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[r.integers(0, len(_LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    centers = r.normal(0, 1, (10, 64))
    label = r.integers(0, 10, n_emb)
    emb = centers[label] + r.normal(0, 0.35, (n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
    return t


def write_analyst(seed: int, out: str) -> str:
    os.makedirs(out, exist_ok=True)
    for name, table in analyst_tables(seed).items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    dims = Dims(args.seed)
    dims.write(args.out)
    batch = batch_table(args.seed, dims, 0, BATCH_FLIGHTS)
    write_parquet(batch, os.path.join(args.out, "telemetry"))
    aircraft, thresholds = fleet_tables(args.seed, batch.column("flight").unique().to_pylist())
    write_parquet(aircraft, os.path.join(args.out, "aircraft"))
    write_parquet(thresholds, os.path.join(args.out, "thresholds"))
    write_analyst(args.seed, os.path.join(args.out, "sf"))


if __name__ == "__main__":
    main()
