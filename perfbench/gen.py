"""Seeded input generator for the benchmark.

Everything the package reads in a benchmark run is written here, from
one seed, as plain files: the same seed gives the same inputs.

Crash domain (FIXTURES.md):
  * ``districts.parquet`` -- grid tilings of the city extent for the 8
    ``DISTRICT_KINDS``; every family but ``borough`` drops ~10% of its
    cells, so some crashes fall in no polygon;
  * ``intersections.parquet`` -- circle buffers around jittered centres;
  * ``crosswalk.parquet`` -- free-text vehicle aliases (typos included)
    mapped onto the 8 canonical codes; some feed values stay unmapped;
  * SODA feed rows (every field a string or absent): ~12% missing
    coordinates plus ``'0'``/``'0.0000000'`` sentinels, out-of-extent
    outliers, ``persons_*`` absent on ~1 in 7 rows, plural
    ``pedestrians``, the mixed ``vehicle_type_code1``/``_3`` naming,
    untrimmed street names with apostrophes, comma-joined contributing
    factors.  Crash locations cluster around intersections with a
    heavy-tailed weight, so a few circles see hundreds of crashes.

:class:`CrashWorld` holds the ground truth in memory: it issues fresh
crash keys and re-sends earlier ones with changed tallies and moved
coordinates, and remembers what it delivered so the benchmark can
check the package's outputs.

TPC-H-ish tables (:func:`write_tpch`) mirror the schemas and value
domains of the harness tables, so the ``bench.HEADLINE`` queries and
their DuckDB twins run on them unchanged.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: city extent (lng_min, lat_min, lng_max, lat_max)
EXTENT = (-74.26, 40.49, -73.70, 40.92)

#: district family -> grid (nx, ny); identifiers are names for the
#: text families and numbers for the int-typed ones
DISTRICT_GRIDS = {
    "borough": (3, 2),
    "city_council": (8, 7),
    "senate": (7, 5),
    "assembly": (10, 8),
    "businessdistrict": (6, 5),
    "community_board": (9, 7),
    "neighborhood": (14, 12),
    "nypd_precinct": (11, 7),
}
TEXT_KINDS = {"borough", "neighborhood", "businessdistrict"}
BOROUGHS = ["Manhattan", "Bronx", "Brooklyn", "Queens", "Staten Island", "Marble Hill"]

#: canonical code -> free-text aliases seen in the feed (typos included)
CROSSWALK = {
    "CAR": ["Sedan", "4 dr sedan", "2 dr sedan", "tesla 5", "Convertible"],
    "SUV": ["Station Wagon/Sport Utility Vehicle", "SPORT UTILITY / STATION WAGON"],
    "TRUCK": ["Pick-up Truck", "Box Truck", "Tractor Truck Diesel", "Dump"],
    "BICYCLE": ["Bike", "Bicycle", "bicyle"],
    "MOTORCYCLE-MOPED": ["Motorcycle", "Moped", "morotcycel"],
    "E-BIKE-SCOOT": ["E-Bike", "E-Scooter", "escooter"],
    "BUS-VAN": ["Bus", "Van", "School Bus"],
    "OTHER": ["Garbage or Refuse", "Ambulance", "Fire Truck"],
}
#: feed vehicle values with no crosswalk entry (the audit finds them)
UNMAPPED_VEHICLES = ["UNKNOWN", "unk", "Forklift", "Golf Cart"]
FACTORS = [
    "Driver Inattention/Distraction", "Unspecified", "Failure to Yield Right-of-Way",
    "Following Too Closely", "Unsafe Speed", "Passing or Lane Usage Improper",
    "Backing Unsafely", "Traffic Control Disregarded", 'Pedestrian/Bicyclist/Other "Error"',
]
STREETS = [
    "BROADWAY", "ATLANTIC AVENUE", "O'BRIEN PLACE", "GRAND CONCOURSE", "QUEENS BOULEVARD",
    "FLATBUSH AVENUE", "NOSTRAND AVENUE", "ST. JOHN'S PLACE", "BELT PARKWAY", "3 AVENUE",
    "LINDEN BOULEVARD", "HYLAN BOULEVARD", "JAMAICA AVENUE", "NORTHERN BOULEVARD",
]

_SODA_COLS = [
    "collision_id", "crash_date", "crash_time", "latitude", "longitude",
    "on_street_name", "off_street_name", "cross_street_name", "zip_code", "borough",
    "number_of_motorist_injured", "number_of_motorist_killed",
    "number_of_cyclist_injured", "number_of_cyclist_killed",
    "number_of_pedestrians_injured", "number_of_pedestrians_killed",
    "number_of_persons_injured", "number_of_persons_killed",
    *[f"contributing_factor_vehicle_{i}" for i in range(1, 6)],
    "vehicle_type_code1", "vehicle_type_code2",
    *[f"vehicle_type_code_{i}" for i in range(3, 6)],
    "created_at", "updated_at",
]
_TALLIES = [
    "number_of_motorist_injured", "number_of_motorist_killed",
    "number_of_cyclist_injured", "number_of_cyclist_killed",
    "number_of_pedestrians_injured", "number_of_pedestrians_killed",
]


def _ring(x0: float, y0: float, x1: float, y1: float) -> list[dict]:
    return [{"x": x0, "y": y0}, {"x": x1, "y": y0}, {"x": x1, "y": y1}, {"x": x0, "y": y1}]


def write_districts(rng: np.random.Generator, path: str) -> None:
    x0, y0, x1, y1 = EXTENT
    kinds, idents, geoms = [], [], []
    for kind, (nx, ny) in DISTRICT_GRIDS.items():
        # the borough family spans the whole extent: the extent filter
        # takes its bounding box
        keep = np.ones(nx * ny, bool) if kind == "borough" else rng.random(nx * ny) > 0.1
        for c in np.flatnonzero(keep):
            i, j = divmod(int(c), ny)
            w, h = (x1 - x0) / nx, (y1 - y0) / ny
            if kind == "borough":
                ident = BOROUGHS[c % len(BOROUGHS)]
            elif kind in TEXT_KINDS:
                ident = f"{kind[:4]}-{c:03d}"
            else:
                ident = str(100 + c)
            kinds.append(kind)
            idents.append(ident)
            geoms.append(_ring(x0 + i * w, y0 + j * h, x0 + (i + 1) * w, y0 + (j + 1) * h))
    pq.write_table(
        pa.table({"kind": kinds, "identifier": idents, "the_geom": geoms}), path
    )


def write_crosswalk(path: str) -> None:
    pairs = [(alias, code) for code, aliases in CROSSWALK.items() for alias in aliases]
    pq.write_table(
        pa.table({
            "nyc_vehicletype": [a for a, _ in pairs],
            "crashmapper_vehicletype": [c for _, c in pairs],
        }),
        path,
    )


class CrashWorld:
    """Ground truth for one seeded crash stream.

    ``fresh(n, day)`` issues ``n`` new crashes dated on or before
    ``day``; ``resend(n, day)`` re-delivers ``n`` earlier crashes with
    changed tallies (and, for a third of them, coordinates moved by
    ~50-300 m), the way the SODA ``:updated_at`` window does.  Both
    return SODA-shaped rows as a dict of string columns (``None`` =
    absent)."""

    def __init__(self, seed: int, n_circles: int):
        self.rng = np.random.default_rng(seed)
        x0, y0, x1, y1 = EXTENT
        self.centers = np.column_stack([
            self.rng.uniform(x0 + 0.01, x1 - 0.01, n_circles),
            self.rng.uniform(y0 + 0.01, y1 - 0.01, n_circles),
        ])
        # heavy-tailed crash attraction per intersection
        w = self.rng.pareto(1.2, n_circles) + 0.05
        self.weights = w / w.sum()
        self.next_id = 4_000_000 + int(self.rng.integers(0, 1_000_000))
        self.rows: dict[str, np.ndarray] = {}
        self.delivered = 0

    def write_intersections(self, path: str, radius_m: float = 60.0) -> None:
        n = len(self.centers)
        pq.write_table(
            pa.table({
                "cartodb_id": pa.array(np.arange(1, n + 1), pa.int64()),
                "name": [f"INTERSECTION {i}" for i in range(1, n + 1)],
                "borough": [""] * n,
                "the_geom": [
                    {"center": {"lng": float(a), "lat": float(b)}, "radius_m": radius_m}
                    for a, b in self.centers
                ],
                "crashcount": pa.nulls(n, pa.int32()),
            }),
            path,
        )

    def _points(self, n: int) -> tuple[np.ndarray, np.ndarray]:
        rng = self.rng
        x0, y0, x1, y1 = EXTENT
        near = rng.random(n) < 0.6
        c = rng.choice(len(self.centers), n, p=self.weights)
        # ~40 m scatter around the centre (1e-5 deg ~ 1 m)
        lng = np.where(near, self.centers[c, 0] + rng.normal(0, 4e-4, n), rng.uniform(x0, x1, n))
        lat = np.where(near, self.centers[c, 1] + rng.normal(0, 3e-4, n), rng.uniform(y0, y1, n))
        out = rng.random(n) < 0.005  # out-of-extent outliers
        lng = np.where(out, rng.uniform(-76.0, -75.0, n), lng)
        return lng, lat

    def fresh(self, n: int, day: dt.date) -> dict[str, list]:
        rng = self.rng
        ids = np.arange(self.next_id, self.next_id + n)
        self.next_id += n
        lng, lat = self._points(n)
        age = np.minimum(rng.exponential(1.5, n), 30).astype(int)
        days = np.array([(day - dt.timedelta(days=int(a))).toordinal() for a in age])
        tallies = {
            "number_of_motorist_injured": rng.poisson(0.35, n),
            "number_of_motorist_killed": (rng.random(n) < 0.003).astype(int),
            "number_of_cyclist_injured": rng.poisson(0.08, n),
            "number_of_cyclist_killed": (rng.random(n) < 0.001).astype(int),
            "number_of_pedestrians_injured": rng.poisson(0.12, n),
            "number_of_pedestrians_killed": (rng.random(n) < 0.002).astype(int),
        }
        batch = {
            "id": ids, "lng": lng, "lat": lat, "day": days,
            "minute": rng.integers(0, 24 * 60, n),
            "geo": rng.random(n),  # <0.12 missing, <0.13 '0' sentinel
            "no_persons": rng.random(n) < 1 / 7,
            "veh": rng.integers(0, 1 << 30, n),
            "street": rng.integers(0, 1 << 30, n),
            **tallies,
        }
        for k, v in batch.items():
            self.rows[k] = np.concatenate([self.rows[k], v]) if k in self.rows else v
        self.delivered += n
        return self._soda(batch, day, resent=False)

    def resend(self, n: int, day: dt.date) -> dict[str, list]:
        rng = self.rng
        n = min(n, self.delivered)
        pos = rng.choice(self.delivered, n, replace=False)
        # changed tallies: one more person injured
        col = rng.choice(["number_of_motorist_injured", "number_of_pedestrians_injured",
                          "number_of_cyclist_injured"], n)
        for c in set(col):
            self.rows[c][pos[col == c]] += 1
        moved = (rng.random(n) < 1 / 3) & (self.rows["geo"][pos] >= 0.13)
        mp = pos[moved]
        self.rows["lng"][mp] += rng.choice([-1, 1], len(mp)) * rng.uniform(6e-4, 3e-3, len(mp))
        self.rows["lat"][mp] += rng.choice([-1, 1], len(mp)) * rng.uniform(5e-4, 2e-3, len(mp))
        return self._soda({k: v[pos] for k, v in self.rows.items()}, day, resent=True)

    def keys(self) -> np.ndarray:
        return self.rows["id"] if self.rows else np.empty(0, np.int64)

    def _soda(self, b: dict, day: dt.date, resent: bool) -> dict[str, list]:
        n = len(b["id"])
        rng = self.rng

        def s(a):
            return [str(int(v)) for v in a]

        dates = [dt.date.fromordinal(int(d)).isoformat() + "T00:00:00.000" for d in b["day"]]
        times = [f"{m // 60}:{m % 60:02d}" for m in b["minute"]]
        lat = [f"{v:.7f}" for v in b["lat"]]
        lng = [f"{v:.7f}" for v in b["lng"]]
        for i, g in enumerate(b["geo"]):
            if g < 0.12:
                lat[i] = lng[i] = None
            elif g < 0.125:
                lat[i] = lng[i] = "0"
            elif g < 0.13:
                lat[i] = lng[i] = "0.0000000"
        cols: dict[str, list] = {c: [None] * n for c in _SODA_COLS}
        cols["collision_id"] = s(b["id"])
        cols["crash_date"], cols["crash_time"] = dates, times
        cols["latitude"], cols["longitude"] = lat, lng
        for t in _TALLIES:
            cols[t] = s(b[t])
        inj = (b["number_of_motorist_injured"] + b["number_of_cyclist_injured"]
               + b["number_of_pedestrians_injured"])
        kil = (b["number_of_motorist_killed"] + b["number_of_cyclist_killed"]
               + b["number_of_pedestrians_killed"])
        cols["number_of_persons_injured"] = [
            None if miss else str(int(v)) for miss, v in zip(b["no_persons"], inj)
        ]
        cols["number_of_persons_killed"] = [
            None if miss else str(int(v)) for miss, v in zip(b["no_persons"], kil)
        ]
        aliases = [a for v in CROSSWALK.values() for a in v] + UNMAPPED_VEHICLES
        slots = ["vehicle_type_code1", "vehicle_type_code2", "vehicle_type_code_3",
                 "vehicle_type_code_4", "vehicle_type_code_5"]
        for i, (v, st) in enumerate(zip(b["veh"], b["street"])):
            v, st = int(v), int(st)
            nveh = 1 + (v % 7 == 0) + (v % 3 == 0) + (v % 29 == 0) + (v % 97 == 0)
            for k in range(nveh):
                cols[slots[k]][i] = aliases[(v >> (5 * k)) % len(aliases)]
                cols[f"contributing_factor_vehicle_{k + 1}"][i] = (
                    FACTORS[(v >> (4 * k)) % len(FACTORS)]
                    if (v >> 20) % 11 else "Unsafe Speed, Driver Inattention/Distraction"
                )
            if st % 5:
                cols["on_street_name"][i] = "  " + STREETS[st % len(STREETS)] + " "
            if st % 3 == 0:
                cols["cross_street_name"][i] = STREETS[(st >> 4) % len(STREETS)]
            if st % 4:
                cols["zip_code"][i] = str(10001 + (st >> 8) % 400)
            cols["borough"][i] = "BROOKLYN" if st % 2 else None
        created = [
            dt.datetime.combine(dt.date.fromordinal(int(d)), dt.time()) + dt.timedelta(days=1)
            for d in b["day"]
        ]
        now = dt.datetime.combine(day, dt.time(hour=23))
        upd = [now if resent else c + dt.timedelta(seconds=int(rng.integers(1, 60)))
               for c in created]
        cols["created_at"] = [c.strftime("%Y-%m-%dT%H:%M:%S.000Z") for c in created]
        cols["updated_at"] = [u.strftime("%Y-%m-%dT%H:%M:%S.000Z") for u in upd]
        return cols


def write_json_lines(cols: dict[str, list], path: str) -> int:
    """Write SODA rows as JSON lines, absent fields omitted; written to
    a temporary name and renamed, so a reader never sees half a file.
    Returns the bytes written."""
    names = list(cols)
    n = len(cols[names[0]])
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    with open(tmp, "w") as fh:
        for i in range(n):
            row = {c: cols[c][i] for c in names if cols[c][i] is not None}
            fh.write(json.dumps(row, separators=(",", ":")))
            fh.write("\n")
    os.replace(tmp, path)
    return os.path.getsize(path)


def concat(*frames: dict[str, list]) -> dict[str, list]:
    return {c: [v for f in frames for v in f[c]] for c in frames[0]}


# ---------------------------------------------------------------------------
# TPC-H-ish harness tables
# ---------------------------------------------------------------------------

_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPE = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_SEGMENT = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGION = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_EVENT = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]


def _ts(days_since_epoch: np.ndarray) -> pa.Array:
    return pa.array((days_since_epoch * 86_400_000_000).astype("int64"), pa.timestamp("us"))


def write_tpch(seed: int, sf: float, out_dir: str) -> None:
    """Write the ten harness tables at scale ``sf`` (sf0.01 ~ 60k
    lineitem rows), with the value domains the harness queries expect."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def put(name: str, cols: "dict | pa.Table") -> None:
        table = cols if isinstance(cols, pa.Table) else pa.table(cols)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGION})
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENT, n_cust),
    })
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    put("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PTYPE, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    day0 = (dt.date(1995, 1, 1) - dt.date(1970, 1, 1)).days
    odate = day0 + rng.integers(0, 6 * 365 + 212, n_ord)
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(odate),
        "o_orderpriority": rng.choice(_PRIORITY, n_ord),
    })
    nlines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), nlines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in nlines])
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(float)
    perm = rng.permutation(n_li)  # the harness table is not clustered by order
    li = {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(odate[okey] + rng.integers(1, 122, n_li)),
    }
    put("lineitem", pa.table(li).take(pa.array(perm)))

    n_ev, n_users = int(1_000_000 * sf), max(10, int(15_000 * sf))
    t0 = dt.datetime(2024, 1, 1).timestamp()
    ts = np.sort(t0 + rng.uniform(0, 30 * 86400, n_ev))
    put("events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array((ts * 1e6).astype("int64"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(_EVENT, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    n_doc = max(500, int(50_000 * sf))
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 101)))))
    put("documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    n_emb, dim = max(500, int(20_000 * sf)), 64
    label = rng.integers(0, 10, n_emb)
    centres = rng.normal(0, 1, (10, dim))
    v = rng.normal(0, 1, (n_emb, dim)) + 0.6 * centres[label]
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
