"""Seeded input generator for the geo-serving benchmark.

Everything the program under test receives comes from here, from one seed:

- the shape table, written by `write_dump` as a reference-format dump (one
  JSON record per line, the wire format `geo.ingest.RAW_SHAPE_SCHEMA` reads:
  lat/lng and bbox as strings). Cities, 5-digit and 3-digit zips, counties
  and metros over US/CA/MX coordinates; aggregates carry a bbox and an area;
  populations are Zipf; names come from per-country syllable grammars, so
  trigram posting lists are diverse rather than dominated by a few names;
- the request streams of the two workloads (`autocomplete_sessions`,
  `spatial_stream`), including the origin tables of the batch joins.

Pure Python (stdlib only) and deterministic per seed.
"""

from __future__ import annotations

import bisect
import itertools
import json
import math
import os
import random
import re

#: total shapes in the generated table — the reference's scale (ids observed
#: up to 259,331 in the reference data)
N_SHAPES = 250_000
#: id space the ids are drawn from (sparse ids, like the reference's)
ID_SPACE = 260_000

#: shape mix (counts sum to N_SHAPES)
MIX = {"City": 100_000, "ZipCode": 142_000, "County": 6_000,
       "MetroArea": 1_000, "Zip3": 1_000}

#: (country, state_prov, lat_lo, lat_hi, lng_lo, lng_hi, weight)
REGIONS = (
    ("US", "WA", 45.6, 49.0, -124.5, -117.0, 4), ("US", "OR", 42.0, 46.2, -124.4, -116.5, 3),
    ("US", "CA", 32.6, 42.0, -124.2, -114.2, 12), ("US", "NV", 35.0, 42.0, -120.0, -114.0, 2),
    ("US", "AZ", 31.4, 37.0, -114.8, -109.1, 3), ("US", "UT", 37.0, 42.0, -114.0, -109.1, 2),
    ("US", "CO", 37.0, 41.0, -109.0, -102.1, 3), ("US", "TX", 26.0, 36.5, -106.6, -93.6, 9),
    ("US", "OK", 33.7, 37.0, -103.0, -94.4, 2), ("US", "KS", 37.0, 40.0, -102.0, -94.6, 2),
    ("US", "MN", 43.5, 49.0, -97.2, -89.5, 3), ("US", "IL", 37.0, 42.5, -91.5, -87.5, 5),
    ("US", "MO", 36.0, 40.6, -95.8, -89.1, 3), ("US", "TN", 35.0, 36.7, -90.3, -81.6, 3),
    ("US", "GA", 30.4, 35.0, -85.6, -80.8, 4), ("US", "FL", 25.1, 31.0, -87.6, -80.0, 7),
    ("US", "OH", 38.4, 42.0, -84.8, -80.5, 5), ("US", "MI", 41.7, 46.0, -86.5, -82.4, 4),
    ("US", "NY", 40.5, 45.0, -79.8, -71.9, 8), ("US", "PA", 39.7, 42.0, -80.5, -74.7, 5),
    ("US", "NC", 33.8, 36.6, -84.3, -75.5, 4), ("US", "VA", 36.5, 39.5, -83.7, -75.2, 3),
    ("US", "MA", 41.2, 42.9, -73.5, -69.9, 3), ("US", "NJ", 38.9, 41.4, -75.6, -73.9, 3),
    ("CA", "BC", 48.3, 55.0, -130.0, -114.0, 3), ("CA", "AB", 49.0, 56.0, -120.0, -110.0, 2),
    ("CA", "ON", 42.0, 50.0, -95.0, -74.3, 5), ("CA", "QC", 45.0, 52.0, -79.5, -60.0, 4),
    ("CA", "MB", 49.0, 55.0, -102.0, -95.2, 1), ("CA", "NS", 43.5, 47.0, -66.3, -59.7, 1),
    ("MX", "BC", 30.0, 32.7, -117.1, -114.7, 1), ("MX", "SO", 27.0, 32.5, -114.8, -108.4, 1),
    ("MX", "CH", 26.0, 31.8, -109.0, -103.3, 1), ("MX", "NL", 23.2, 27.8, -101.2, -98.4, 2),
    ("MX", "JA", 19.0, 22.8, -105.7, -101.5, 2), ("MX", "CX", 19.0, 19.6, -99.4, -98.9, 3),
    ("MX", "PU", 17.9, 20.8, -98.7, -96.7, 1), ("MX", "YU", 19.6, 21.6, -90.4, -87.5, 1),
)

_SYL = {
    "US": (
        ("spring", "oak", "maple", "cedar", "green", "fair", "clear", "rock",
         "river", "lake", "pine", "elm", "ash", "red", "white", "black",
         "glen", "brook", "wood", "mill", "stone", "sun", "silver", "gold",
         "iron", "bay", "bridge", "dover", "frank", "harris", "jack", "king",
         "lin", "mad", "mar", "nor", "rich", "sal", "tren", "wash", "wil",
         "win", "york", "ham", "bur", "cam", "dal", "ever", "gar", "hunt",
         "liv", "mans", "nash", "ox", "pleas", "quin", "roch", "shel", "tal",
         "ver", "wal", "ken", "lex", "bel", "col", "dan", "fal", "grant"),
        ("ville", "ton", "field", "burg", "wood", "dale", "ford", "port",
         "land", "view", "mont", "ridge", "haven", "worth", "ley", "by",
         "mouth", "chester", "side", "creek", "falls", "springs", "city",
         "town", "berg", "stead", "bury", "well", "crest", "hill", "ington",
         "wick", "shire", "grove", "park", "vale"),
        ("north ", "south ", "east ", "west ", "new ", "fort ", "mount ",
         "lake ", "port ", "little "),
    ),
    "CA": (
        ("saint ", "lac ", "riviere ", "mont ", "sainte ", "pointe ", "fort ",
         "port ", "grand ", "petit "),
        ("laurent", "jean", "pierre", "marie", "joseph", "michel", "louis",
         "andre", "claire", "etienne", "albert", "george", "victoria", "prince",
         "rupert", "nelson", "simon", "john", "bernard", "francois", "hubert",
         "denis", "luc", "paul", "anne"),
        ("", "ville", "ton", "bourg", "dale", "view", " du lac", " des bois",
         " sur mer", "field"),
    ),
    "MX": (
        ("san ", "santa ", "villa ", "ciudad ", "puerto ", "el ", "la ",
         "los ", "las ", "nuevo ", "real "),
        ("juan", "maria", "cruz", "rosa", "jose", "miguel", "pedro", "lucia",
         "ana", "luis", "carlos", "isidro", "andres", "felipe", "martin",
         "pablo", "tomas", "nicolas", "rafael", "agustin", "barbara", "teresa",
         "fernando", "lorenzo", "mateo", "marcos"),
        ("", " del norte", " del sur", " del rio", " de juarez", " de morelos",
         " de hidalgo", " del valle", " grande", " chico", " alto", " de guadalupe"),
    ),
}

_CA_LETTERS = "ABCEGHJKLMNPRSTVXY"
_RI = range(len(REGIONS))


def clean_entity(val: str) -> str:
    """The reference's cleaning (strip non-alphanumerics, lowercase)."""
    return re.sub("[^0-9a-zA-Z ]+", "", val).lower()


class ZipfSampler:
    """Draws indices 0..n-1 with P(i) ∝ 1/(i+1)^s."""

    def __init__(self, n: int, s: float, rng: random.Random):
        self.rng = rng
        acc, cum = 0.0, []
        for i in range(n):
            acc += 1.0 / (i + 1) ** s
            cum.append(acc)
        self.cum, self.total = cum, acc

    def draw(self) -> int:
        return bisect.bisect_left(self.cum, self.rng.random() * self.total)


def _name(rng: random.Random, country: str) -> str:
    a, b, c = _SYL[country]
    if country == "US":
        base = rng.choice(a) + rng.choice(b)
        if rng.random() < 0.25:
            base = rng.choice(c) + base
        return base.title()
    if country == "CA":
        if rng.random() < 0.5:
            return (rng.choice(_SYL["US"][0]) + rng.choice(_SYL["US"][1])).title()
        return (rng.choice(a) + rng.choice(b) + rng.choice(c)).strip().title()
    return (rng.choice(a) + rng.choice(b) + rng.choice(c)).strip().title()


def _tz(country: str, lng: float) -> str | None:
    if country == "MX":
        return "America/Mexico_City" if lng > -106 else "America/Tijuana"
    if lng < -114.5:
        return "America/Los_Angeles" if country == "US" else "America/Vancouver"
    if lng < -102:
        return "America/Denver" if country == "US" else "America/Edmonton"
    if lng < -87.5:
        return "America/Chicago" if country == "US" else "America/Winnipeg"
    if lng < -64:
        return "America/New_York" if country == "US" else "America/Toronto"
    return "America/Halifax"


def _fmt(x: float) -> str:
    return f"{x:.6f}"


def _bbox(lat: float, lng: float, area: float) -> dict:
    half_mi = math.sqrt(area) / 2.0
    dlat = half_mi / 69.0
    dlng = half_mi / (69.0 * max(math.cos(math.radians(lat)), 0.2))
    return {"ll_latitude": _fmt(lat - dlat), "ur_latitude": _fmt(lat + dlat),
            "ll_longitude": _fmt(lng - dlng), "ur_longitude": _fmt(lng + dlng)}


def generate_shapes(seed: int, n_shapes: int = N_SHAPES) -> list[dict]:
    """The shape table as reference-format records, deterministic per seed.
    `n_shapes` scales the mix proportionally (tests use small tables)."""
    rng = random.Random(seed * 7919 + 1)
    scale = n_shapes / N_SHAPES
    counts = {k: max(1, int(round(v * scale))) for k, v in MIX.items()}
    counts["ZipCode"] += n_shapes - sum(counts.values())
    ids = sorted(rng.sample(range(1, int(ID_SPACE * max(scale, 0.01)) + n_shapes),
                            n_shapes))
    rng.shuffle(ids)
    cum_w = list(itertools.accumulate(r[6] for r in REGIONS))
    # hubs: population centres inside each region, places cluster around them
    hubs = []
    for r in REGIONS:
        hubs.append([(rng.uniform(r[2], r[3]), rng.uniform(r[4], r[5]))
                     for _ in range(6)])
    pop_zipf = [int(9_000_000 / (k + 1) ** 1.05) for k in range(counts["City"])]
    rng.shuffle(pop_zipf)

    def place(ri: int) -> tuple[float, float]:
        r = REGIONS[ri]
        if rng.random() < 0.6:
            hlat, hlng = rng.choice(hubs[ri])
            lat = min(max(rng.gauss(hlat, 0.6), r[2]), r[3])
            lng = min(max(rng.gauss(hlng, 0.8), r[4]), r[5])
            return lat, lng
        return rng.uniform(r[2], r[3]), rng.uniform(r[4], r[5])

    out: list[dict] = []
    used_refs: set[str] = set()
    next_id = iter(ids)

    def unique_ref(ref: str) -> str:
        base, k = ref, 2
        while ref in used_refs:
            ref, k = f"{base}_{k}", k + 1
        used_refs.add(ref)
        return ref

    def record(geo_type, value, ref, lat, lng, country, st, pop, area=0.0,
               city=None, zip_code=None, metro=None, metro_size=None,
               short=None, three=False) -> dict:
        agg = area > 0.0
        return {
            "value": value,
            "clean_value": clean_entity(value),
            "id": next(next_id),
            "reference_code": unique_ref(ref),
            "latitude": _fmt(lat),
            "longitude": _fmt(lng),
            "bbox": _bbox(lat, lng, area) if agg else None,
            "area": round(area, 3),
            "geo_type": geo_type,
            "ref_data": {"city": city, "country": country, "zip_code": zip_code,
                         "state_prov": st, "metro": metro, "metro_size": metro_size},
            "population": pop,
            "is_aggregate": agg,
            "is_zip_code": geo_type == "ZipCode",
            "is_three_digit_zip_code": three,
            "long_display": f"{value} ({geo_type})",
            "short_display": short or value.split(",")[0],
            "primary_timezone": None if rng.random() < 0.03 else _tz(country, lng),
            "related_shape_id": None,
            "primary_source": "bench",
            "primary_source_id": None,
        }

    def slug(s: str) -> str:
        return re.sub("[^a-z0-9]+", "_", s.lower()).strip("_")

    city_names: list[tuple[str, int]] = []
    for i in range(counts["City"]):
        ri = rng.choices(_RI, cum_weights=cum_w)[0]
        country, st = REGIONS[ri][0], REGIONS[ri][1]
        lat, lng = place(ri)
        name = _name(rng, country)
        city_names.append((name, ri))
        out.append(record("City", f"{name}, {st}",
                          f"{country.lower()}__{st.lower()}__{slug(name)}",
                          lat, lng, country, st, pop_zipf[i], city=name))
    for i in range(counts["ZipCode"]):
        ri = rng.choices(_RI, cum_weights=cum_w)[0]
        country, st = REGIONS[ri][0], REGIONS[ri][1]
        lat, lng = place(ri)
        if country == "CA":
            z = (rng.choice(_CA_LETTERS) + str(rng.randrange(10)) + rng.choice(_CA_LETTERS)
                 + " " + str(rng.randrange(10)) + rng.choice(_CA_LETTERS) + str(rng.randrange(10)))
        else:
            z = f"{rng.randrange(1000, 99999):05d}"
        city = city_names[rng.randrange(len(city_names))][0]
        out.append(record("ZipCode", f"{z}, {country}",
                          f"{country.lower()}__zip__{slug(z)}", lat, lng, country,
                          st, rng.randrange(0, 60_000), city=city, zip_code=z,
                          short=z))
    for i in range(counts["Zip3"]):
        ri = rng.choices(_RI, cum_weights=cum_w)[0]
        st = REGIONS[ri][1]
        lat, lng = place(ri)
        z = f"{rng.randrange(10, 999):03d}"
        out.append(record("ZipCode", f"{z}, US", f"us__zip3__{z}", lat, lng, "US",
                          st, rng.randrange(20_000, 900_000),
                          area=rng.uniform(200, 4000), zip_code=z, short=z,
                          three=True))
    for i in range(counts["County"]):
        ri = rng.choices(_RI, cum_weights=cum_w)[0]
        country, st = REGIONS[ri][0], REGIONS[ri][1]
        lat, lng = place(ri)
        name = _name(rng, country)
        out.append(record("County", f"{name} County, {st}",
                          f"{country.lower()}__{st.lower()}__{slug(name)}_county",
                          lat, lng, country, st, rng.randrange(1_000, 2_000_000),
                          area=rng.uniform(5, 3000), city=name))
    for i in range(counts["MetroArea"]):
        ri = rng.choices(_RI, cum_weights=cum_w)[0]
        country, st = REGIONS[ri][0], REGIONS[ri][1]
        lat, lng = rng.choice(hubs[ri])
        name, _ = city_names[rng.randrange(len(city_names))]
        out.append(record("MetroArea", f"{name} Metro, {st}",
                          f"{country.lower()}__metro__{slug(name)}", lat, lng,
                          country, st, int(12_000_000 / (i + 1) ** 0.9),
                          area=rng.uniform(500, 12_000), city=name,
                          metro=f"{name} metro area", metro_size=i + 1))
    rng.shuffle(out)
    return out


# ---------------------------------------------------------------- requests

def _typo(rng: random.Random, s: str) -> str:
    """One seeded keyboard slip: substitution, transposition or drop."""
    if len(s) < 5:
        return s
    i = rng.randrange(2, len(s) - 1)
    kind = rng.randrange(3)
    if kind == 0:
        return s[:i] + rng.choice("aeiourstln") + s[i + 1:]
    if kind == 1:
        return s[:i] + s[i + 1] + s[i] + s[i + 2:]
    return s[:i] + s[i + 1:]


def _popular(shapes: list[dict], types: tuple[str, ...]) -> list[dict]:
    rows = [s for s in shapes if s["geo_type"] in types]
    rows.sort(key=lambda s: (-s["population"], s["id"]))
    return rows


#: fuzzy_search keystrokes per typing session (then one best_fuzzy_search)
SESSION_KEYS = 4


def autocomplete_sessions(shapes: list[dict], seed: int, n_sessions: int,
                          min_prefix: int = 3) -> list[list[dict]]:
    """Typing sessions of a fixed length, so that every run that completes
    the same number of sessions sends the same mix. Each picks a place
    (Zipf by popularity over cities, counties and metros), applies a seeded
    typo in three sessions of ten, types `SESSION_KEYS` keystrokes from
    `min_prefix` characters — one `fuzzy_search(num_results=10)` each — and
    then submits the whole typed name as a `best_fuzzy_search` scoped by a
    dotted-path filter (`ref_data.country` or `ref_data.state_prov` of the
    place), so one request in five carries a filter."""
    rng = random.Random(seed * 104729 + 11)
    named = _popular(shapes, ("City", "County", "MetroArea"))
    zipf = ZipfSampler(min(len(named), 20_000), 1.0, rng)
    sessions = []
    while len(sessions) < n_sessions:
        target = named[zipf.draw()]
        text = target["value"]
        if rng.random() < 0.3:
            text = _typo(rng, text)
        key = rng.choice(("ref_data.country", "ref_data.state_prov"))
        filters = {key: target["ref_data"][key.split(".")[1]]}
        reqs = [{"op": "fuzzy", "q": text[:k], "filters": None}
                for k in range(min_prefix, min_prefix + SESSION_KEYS)]
        reqs.append({"op": "best_fuzzy", "q": text, "filters": filters})
        sessions.append(reqs)
    return sessions


#: one cycle of the spatial mix: one request of each type, in seeded order.
#: The uniform mix is an assumption (there is no traffic record to weight
#: the types by); the end-to-end latency metric weights every type equally
#: anyway (see run.py), so the mix sets the load, not the metric.
SPATIAL_CYCLE = ("radius", "radius_ll", "radius_pts", "by_ref", "by_id", "pair",
                 "time", "radius_batch", "radius_grid")
#: radius_search radii (miles), one per cycle in a seeded rotation; the
#: 10-mile one is sent with country_exact
RADIUS_MILES = (10.0, 25.0, 50.0, 100.0)
#: radii of the lat/lng radius searches, one per cycle in a seeded rotation
LATLNG_MILES = (10.0, 25.0, 50.0)
#: origins per batch request (radius_join and radius_join_gridded), and
#: their radius (miles)
BATCH_ORIGINS = 20
BATCH_MILES = 25.0


def spatial_stream(shapes: list[dict], seed: int, n_cycles: int) -> list[dict]:
    """The spatial mix: radius search by reference code (10/25/50/100 mi,
    the 10-mile one with country_exact), radius search by lat/lng in both
    facade forms, point gets by reference code and by id, pair distance,
    local time, and the two batch radius joins (`geo.radius.radius_join`
    and `geo.grid.radius_join_gridded`, nearby places for 20 origins).
    Keys are Zipf over popularity. Every cycle sends each type once; the
    order, the radii's rotation and the keys vary with the seed."""
    rng = random.Random(seed * 15485863 + 7)
    pop = _popular(shapes, ("City", "County", "MetroArea", "ZipCode"))
    points = [s for s in pop if not s["is_aggregate"]]
    zipf = ZipfSampler(min(len(pop), 50_000), 0.9, rng)
    cycle = list(SPATIAL_CYCLE)
    r0, l0 = rng.randrange(len(RADIUS_MILES)), rng.randrange(len(LATLNG_MILES))
    out = []
    for c in range(n_cycles):
        rng.shuffle(cycle)
        miles = RADIUS_MILES[(r0 + c) % len(RADIUS_MILES)]
        ll_miles = LATLNG_MILES[(l0 + c) % len(LATLNG_MILES)]
        for op in cycle:
            s = pop[zipf.draw()]
            lat, lng = float(s["latitude"]), float(s["longitude"])
            if op == "radius":
                out.append({"op": op, "ref": s["reference_code"], "radius": miles,
                            "country_exact": miles == RADIUS_MILES[0]})
            elif op in ("radius_ll", "radius_pts"):
                out.append({"op": op, "lat": round(lat + rng.uniform(-0.2, 0.2), 5),
                            "lng": round(lng + rng.uniform(-0.2, 0.2), 5),
                            "radius": ll_miles})
            elif op == "by_id":
                out.append({"op": op, "id": s["id"]})
            elif op == "pair":
                out.append({"op": op, "ref": s["reference_code"],
                            "ref2": pop[zipf.draw()]["reference_code"]})
            elif op in ("radius_batch", "radius_grid"):
                origins = []
                for i in range(BATCH_ORIGINS):
                    p = points[rng.randrange(len(points))]
                    origins.append({"origin_id": i,
                                    "latitude": round(float(p["latitude"]) + rng.uniform(-0.1, 0.1), 5),
                                    "longitude": round(float(p["longitude"]) + rng.uniform(-0.1, 0.1), 5)})
                out.append({"op": op, "origins": origins, "radius": BATCH_MILES})
            else:
                out.append({"op": op, "ref": s["reference_code"]})
    return out


def write_dump(out_dir: str, shapes: list[dict]) -> str:
    """Write the shape dump as the store layout `load_data` fetches from:
    `<out_dir>/geo_manager_shape.json`, one record per line. Returns the
    `file://` store prefix."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "geo_manager_shape.json")
    with open(path + ".tmp", "w") as f:
        for r in shapes:
            f.write(json.dumps(r, separators=(",", ":")))
            f.write("\n")
    os.replace(path + ".tmp", path)
    return "file://" + os.path.abspath(out_dir) + "/"
