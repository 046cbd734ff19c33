"""Seeded input generators for the benchmark.

Two families of inputs, both written as plain files under a run's own
directory:

* the star schema every registry spec reads (``region`` .. ``embeddings``,
  one parquet file each, with the column names and types of the catalog);
* the reference-shaped ETL inputs: a precinct-grain election CSV, raw
  MCAS and graduation CSVs, and an ESRI ``.shp``/``.dbf`` pair of
  district polygons written per the public shapefile and dBase layouts.

Every function is a pure function of its arguments and seed.
"""

from __future__ import annotations

import os
import struct
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "a the data spark query table row column join key value group order "
    "sort hash merge scan filter agg window stream batch line part "
    "customer small big fast slow vector"
).split()
_ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
_NOUN = ["bolt", "gear", "anvil", "widget", "rod", "plate", "ring", "gizmo"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = np.array(["en", "de", "es", "fr", "zh"])
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

COUNTIES = (
    "Barnstable", "Berkshire", "Bristol", "Dukes", "Essex", "Franklin",
    "Hampden", "Hampshire", "Middlesex", "Nantucket", "Norfolk", "Plymouth",
    "Suffolk", "Worcester",
)


def _ts(start: str, seconds: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + seconds.astype("timedelta64[us]"), pa.timestamp("us"))


def _days(start: str, end: str, rng: np.random.Generator, n: int) -> pa.Array:
    span = (np.datetime64(end) - np.datetime64(start)).astype(int)
    days = rng.integers(0, span + 1, n).astype("int64") * 86_400_000_000
    return _ts(start, days)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _write(out_dir: str, name: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return table.num_rows


def _documents(rng: np.random.Generator, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document
            texts.append(texts[rng.integers(0, i)] + " dup" * int(rng.integers(1, 3)))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(_WORDS, k)))
    return {
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    }


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> dict:
    centers = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, n)
    vec = centers[label] + rng.normal(scale=1.5, size=(n, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": pa.array(list(vec.astype("float32")), pa.list_(pa.float32())),
        "label": pa.array(label.astype("int32")),
    }


def star_schema(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten catalog tables at scale factor ``sf``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs = max(int(15_000 * sf), 15), 500
    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    rows = {
        "region": _write(out_dir, "region", {
            "r_regionkey": pa.array(np.arange(5, dtype="int32")),
            "r_name": pa.array(names),
        }),
        "nation": _write(out_dir, "nation", {
            "n_nationkey": pa.array(np.arange(25, dtype="int32")),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype="int32") % 5),
        }),
        "customer": _write(out_dir, "customer", {
            "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust)),
        }),
        "supplier": _write(out_dir, "supplier", {
            "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }),
        "part": _write(out_dir, "part", {
            "p_partkey": pa.array(np.arange(n_part, dtype="int64")),
            "p_name": pa.array([
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(rng.choice(_PTYPES, n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
            "p_retailprice": pa.array(
                np.round(900 + (np.arange(n_part) % 1000) / 10.0, 1)
            ),
        }),
        "orders": _write(out_dir, "orders", {
            "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype("int64")),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
            "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord)),
            "o_orderdate": _days("1995-01-01", "2001-08-01", rng, n_ord),
            "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord)),
        }),
        "lineitem": _write(out_dir, "lineitem", {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype("int64")),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype("int64")),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype("int64")),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype("int32")),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype("float64")),
            "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
            "l_shipdate": _days("1995-01-02", "2001-11-04", rng, n_li),
        }),
        "events": _write(out_dir, "events", {
            "event_id": pa.array(np.arange(n_ev, dtype="int64")),
            "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))),
            "user_id": pa.array(rng.integers(0, n_users, n_ev).astype("int64")),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, n_ev)),
            "value": pa.array(np.round(rng.lognormal(3.5, 1.0, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }),
        "documents": _write(out_dir, "documents", _documents(rng, n_docs)),
        "embeddings": _write(out_dir, "embeddings", _embeddings(rng, n_docs)),
    }
    return rows


# ---------------------------------------------------------------------------
# reference-shaped ETL inputs
# ---------------------------------------------------------------------------

_SYLLABLES = (
    "ash brook clay dale elm fair glen hill lake mill north oak pine "
    "ridge stone wood west bridge field ford ham haven ley mont port ton ville"
).split()


def _grouped(n: int) -> str:
    """Integer as the scraped tables print it: '12,345'."""
    return f"{n:,}"


def towns(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct title-case town names; some start with 'North '."""
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        a, b = rng.choice(_SYLLABLES, 2)
        name = (a + b).capitalize()
        if rng.random() < 0.08:
            name = "North " + name
        if name not in seen:
            seen.add(name)
            out.append(name)
    return out


def _dirty(town: str, rng: np.random.Generator) -> str:
    """A raw spelling the election transform must clean up."""
    if town.startswith("North ") and rng.random() < 0.7:
        return "N. " + town[6:]
    return town.upper() if rng.random() < 0.3 else town


def election_csv(path: str, town_county: dict[str, str], rows: int,
                 rng: np.random.Generator, counties: tuple[str, ...] = COUNTIES) -> Counter:
    """Precinct-grain election results for the towns of ``counties``;
    returns the row count per county."""
    names = [t for t, c in town_county.items() if c in counties]
    pick = rng.integers(0, len(names), rows)
    yes = rng.integers(0, 4000, rows)
    no = rng.integers(0, 4000, rows)
    blank = rng.integers(0, 300, rows)
    per_county: Counter = Counter()
    with open(path, "w") as f:
        f.write("county,town,response_yes,response_no,response_blank,response_total\n")
        for i in range(rows):
            t = names[pick[i]]
            per_county[town_county[t]] += 1
            y, n, b = int(yes[i]), int(no[i]), int(blank[i])
            f.write(
                f'{town_county[t]},{_dirty(t, rng)},"{_grouped(y)}","{_grouped(n)}",'
                f'"{_grouped(b)}","{_grouped(y + n + b)}"\n'
            )
    return per_county


def school_csvs(mcas_path: str, grad_path: str, districts: list[tuple[int, str]],
                rng: np.random.Generator) -> int:
    """Raw MCAS (district x subject) and graduation rows, plus 'State Total'."""
    with open(mcas_path, "w") as f:
        f.write("District Code,Subject,M+E #,PM #,NM #\n")
        for code, _ in districts:
            for subject in ("ELA", "MATH"):
                me, pm, nm = (int(v) for v in rng.integers(0, 5000, 3))
                f.write(f'{code},{subject},"{_grouped(me)}","{_grouped(pm)}","{_grouped(nm)}"\n')
    state_code = max(c for c, _ in districts) + 1
    with open(grad_path, "w") as f:
        f.write("District Name,District Code,Year,% Graduated\n")
        for code, name in districts:
            f.write(f"{name},{code},2023,{rng.integers(600, 1000) / 10:.1f}\n")
        f.write(f"State Total,{state_code},2023,90.1\n")
    return 3 * len(districts) + 1


def _ring(cx: float, cy: float, r: float, n: int) -> list[tuple[float, float]]:
    """Clockwise closed ring (the shapefile outer-ring orientation)."""
    ang = -np.linspace(0, 2 * np.pi, n, endpoint=False)
    pts = [(cx + r * np.cos(a), cy + r * np.sin(a)) for a in ang]
    return pts + [pts[0]]


def _shp(records: list[list[list[tuple[float, float]]]]) -> bytes:
    recs = []
    for i, rings in enumerate(records, 1):
        pts = [p for r in rings for p in r]
        xs, ys = [p[0] for p in pts], [p[1] for p in pts]
        content = struct.pack("<i4d", 5, min(xs), min(ys), max(xs), max(ys))
        content += struct.pack("<ii", len(rings), len(pts))
        off = 0
        for r in rings:
            content += struct.pack("<i", off)
            off += len(r)
        content += b"".join(struct.pack("<2d", x, y) for x, y in pts)
        recs.append(struct.pack(">ii", i, len(content) // 2) + content)
    body = b"".join(recs)
    header = struct.pack(">i", 9994) + b"\x00" * 20
    header += struct.pack(">i", (100 + len(body)) // 2)
    header += struct.pack("<ii", 1000, 5) + struct.pack("<8d", *([0.0] * 8))
    return header + body


def _dbf(fields: list[tuple[str, int]], rows: list[tuple]) -> bytes:
    desc = b"".join(
        name.encode().ljust(11, b"\x00") + b"C" + b"\x00" * 4 + bytes([width]) + b"\x00" * 15
        for name, width in fields
    )
    header_size = 32 + len(desc) + 1
    record_size = 1 + sum(w for _, w in fields)
    head = struct.pack("<BBBBIHH", 3, 24, 1, 1, len(rows), header_size, record_size)
    out = [head + b"\x00" * 20 + desc + b"\x0d"]
    for row in rows:
        out.append(b" " + b"".join(
            ("" if v is None else str(v)).encode().ljust(w)[:w]
            for v, (_, w) in zip(row, fields)
        ))
    return b"".join(out) + b"\x1a"


def district_shapefile(shp_path: str, districts: list[tuple[int, str]],
                       members: dict[int, list[str] | None],
                       rng: np.random.Generator, vertices: int = 48) -> int:
    """District polygons in EPSG:26986 metres, one invalid (a bow-tie)."""
    records, attrs = [], []
    for k, (code, name) in enumerate(districts):
        cx = 50_000 + 260_000 * rng.random()
        cy = 780_000 + 170_000 * rng.random()
        ring = _ring(cx, cy, 1_000 + 4_000 * rng.random(), vertices)
        if k == 0:
            ring = [(cx, cy), (cx + 1000, cy + 1000), (cx + 1000, cy), (cx, cy + 1000), (cx, cy)]
        records.append([ring])
        m = members[code]
        attrs.append((code, name, None if m is None else ", ".join(m)))
    with open(shp_path, "wb") as f:
        f.write(_shp(records))
    with open(shp_path[:-4] + ".dbf", "wb") as f:
        f.write(_dbf([("ORG8CODE", 10), ("DISTRICT_N", 40), ("MEMBERLIST", 254)], attrs))
    return len(records)


def etl_inputs(out_dir: str, seed: int, precinct_rows: int, n_districts: int = 300,
               n_towns: int = 350) -> dict:
    """Stage every ETL input under ``out_dir``; return what the checks need."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    town_list = towns(rng, n_towns)
    town_county = {t: COUNTIES[int(rng.integers(0, len(COUNTIES)))] for t in town_list}
    districts = [(10_000 + 10 * i, f"District {i:03d}") for i in range(n_districts)]
    members: dict[int, list[str] | None] = {}
    for code, _ in districts:
        if rng.random() < 0.05:
            members[code] = None
        else:
            k = int(rng.integers(1, 9))
            members[code] = sorted(set(rng.choice(town_list, k)))
    replaced = tuple(str(c) for c in rng.choice(COUNTIES, 4, replace=False))
    paths = {
        "election": os.path.join(out_dir, "election.csv"),
        "election_replace": os.path.join(out_dir, "election_replace.csv"),
        "mcas": os.path.join(out_dir, "mcas.csv"),
        "grad": os.path.join(out_dir, "grad.csv"),
        "shp": os.path.join(out_dir, "gis", "districts.shp"),
    }
    os.makedirs(os.path.dirname(paths["shp"]), exist_ok=True)
    first = election_csv(paths["election"], town_county, precinct_rows, rng)
    second = election_csv(paths["election_replace"], town_county, precinct_rows // 4,
                          rng, counties=replaced)
    rows = sum(first.values()) + sum(second.values())
    rows += school_csvs(paths["mcas"], paths["grad"], districts, rng)
    rows += district_shapefile(paths["shp"], districts, members, rng)
    return {
        "paths": paths,
        "rows": rows,
        "bytes": sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(out_dir) for f in fs
        ),
        "county_rows": {**first, **second},
    }
