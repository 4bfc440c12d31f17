"""Independent pure-Python oracle for the geo-serving benchmark.

It re-implements the reference semantics (SURVEY.md §2) directly over the
generated records — no Spark, no import of the program under test:

- fuzzy search (F12/F13): query cleaning, trigrams with multiplicity, the
  candidate count over postings, the max(num_results, 500) candidate cap,
  filters after the cap, Tversky(.85/.15) with the 15 % prefix boost,
  population weighting, zip-mode scoring of numeric queries, clean_value
  dedupe, the Damerau-Levenshtein payload and the .90 best-match threshold;
- radius search (R1-R7): ellipse test for points, origin-in-bbox for
  aggregates, the country guard, the literal-origin forms;
- pair distance (R8): haversine plus the log-area normalisation ladder and
  the 999 sentinel;
- point lookups (P1/P2/P10).

Tie-breaks follow the engine's documented choices (SURVEY.md §7): cap ties →
lowest id; dedupe keeps highest score then lowest id; ranking uses scores
rounded to 6 places. Float comparisons carry a small tolerance, and rows
that sit on a predicate boundary within that tolerance are not judged.
"""

from __future__ import annotations

import datetime as _dt
import math
import re
from collections import Counter, defaultdict

EARTH_RADIUS_MILES = 3958.756
CANDIDATE_FLOOR = 500
EPS = 1e-6


# ------------------------------------------------------------------ scalars

def clean(val: str) -> str:
    return re.sub("[^0-9a-zA-Z ]+", "", val).lower()


def trigrams(s: str) -> list[str]:
    return [s[i:i + 3] for i in range(len(s) - 2)]


def tversky(query: str, source: str, a: float = 0.85, b: float = 0.15) -> float:
    if not query or not source:
        return 0.0
    q, s = set(trigrams(query)), set(trigrams(source))
    inter = len(q & s)
    if inter == 0:
        return 0.0
    return inter / (inter + a * (len(q) - inter) + b * (len(s) - inter))


def fuzzy_score(query: str, source: str) -> float:
    """Tversky(.85/.15) with the 15 % prefix boost."""
    base = tversky(query, source)
    return base * 1.15 if source.startswith(query) else base


def geo_score(query: str, source: str, population) -> float:
    target = source.split(" ")[0] if query.isnumeric() else source
    f = fuzzy_score(query, target)
    pop = population or 0
    if pop <= 0 or f <= 0.65:
        return f * 0.9
    return f * 0.9 + math.log(pop) * 0.1


def damerau(s1: str, s2: str) -> int:
    """Unrestricted Damerau-Levenshtein distance (Lowrance-Wagner)."""
    n1, n2 = len(s1), len(s2)
    big = n1 + n2
    last_row: dict[str, int] = {}
    d = [[big] * (n2 + 2)] + [[big] + list(range(n2 + 1))]
    for i in range(1, n1 + 1):
        d.append([big, i] + [0] * n2)
    for i in range(1, n1 + 1):
        last_col = 0
        for j in range(1, n2 + 1):
            k = last_row.get(s2[j - 1], 0)
            l_ = last_col
            if s1[i - 1] == s2[j - 1]:
                cost, last_col = 0, j
            else:
                cost = 1
            d[i + 1][j + 1] = min(d[i][j] + cost, d[i + 1][j] + 1, d[i][j + 1] + 1,
                                  d[k][l_] + (i - k - 1) + 1 + (j - l_ - 1))
        last_row[s1[i - 1]] = i
    return d[n1 + 1][n2 + 1]


def geo_distance(a: str, b: str) -> int:
    return min(damerau(a.split(",")[0], b.split(",")[0]), damerau(a, b))


def haversine(lat1, lng1, lat2, lng2) -> float:
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dl1, dl2 = math.radians(lng1), math.radians(lng2)
    a = math.sin((p2 - p1) / 2) ** 2 + math.cos(p1) * math.cos(p2) * math.sin((dl2 - dl1) / 2) ** 2
    return 2 * EARTH_RADIUS_MILES * math.atan2(math.sqrt(a), math.sqrt(1 - a))


def lat_delta(miles: float) -> float:
    return miles / EARTH_RADIUS_MILES * 180.0 / math.pi


def lng_delta(lat: float, miles: float) -> float:
    return miles / (EARTH_RADIUS_MILES * math.cos(lat * math.pi / 180.0)) * 180.0 / math.pi


def close(a, b, tol: float = EPS) -> bool:
    if a is None or b is None:
        return a is b
    return abs(float(a) - float(b)) <= tol * max(1.0, abs(float(b)))


# ------------------------------------------------------------------ records

_BBOX = ("ll_latitude", "ur_latitude", "ll_longitude", "ur_longitude")


def normalize(rec: dict) -> dict:
    """The typed record the store serves for a raw dump record."""
    r = dict(rec)
    r["latitude"] = None if rec.get("latitude") is None else float(rec["latitude"])
    r["longitude"] = None if rec.get("longitude") is None else float(rec["longitude"])
    bb = rec.get("bbox") or {}
    r["bbox"] = {k: None if bb.get(k) is None else float(bb[k]) for k in _BBOX}
    r["is_aggregate"] = bool(rec.get("is_aggregate") or False)
    r["population"] = rec.get("population") or 0
    r["area"] = float(rec.get("area") or 0.0)
    if r.get("clean_value") is None:
        r["clean_value"] = clean(rec["value"])
    return r


def path_get(rec: dict, dotted: str):
    cur = rec
    for part in dotted.split("."):
        if not isinstance(cur, dict):
            return None
        cur = cur.get(part)
    return cur


class Oracle:
    def __init__(self, records: list[dict]):
        self.rows = [normalize(r) for r in records]
        self.by_id = {r["id"]: r for r in self.rows}
        self.by_ref = {r["reference_code"]: r for r in self.rows}
        self.postings: dict[str, list[tuple[int, int]]] = defaultdict(list)
        for r in self.rows:
            for g, m in Counter(trigrams(r["clean_value"])).items():
                self.postings[g].append((r["id"], m))

    # ------------------------------------------------------------- fuzzy

    def fuzzy_ranked(self, search: str, num_results: int, filters: dict | None):
        """(top results, {id: rounded score} of every deduped winner)."""
        q = clean(search)
        grams = sorted(set(trigrams(q)))
        if not grams:
            return [], {}
        counts: Counter = Counter()
        for g in grams:
            for eid, m in self.postings.get(g, ()):
                counts[eid] += m
        cap = max(num_results, CANDIDATE_FLOOR)
        cands = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:cap]
        best: dict[str, dict] = {}
        for eid, _ in cands:
            r = self.by_id[eid]
            if filters and any(path_get(r, k) != v for k, v in filters.items()):
                continue
            cv = r["clean_value"]
            row = {"id": eid, "clean_value": cv,
                   "ngram_similarity": fuzzy_score(q, cv),
                   "score": geo_score(q, cv, r["population"])}
            key = (-round(row["score"], 6), eid)
            cur = best.get(cv)
            if cur is None or key < (-round(cur["score"], 6), cur["id"]):
                best[cv] = row
        ranked = sorted(best.values(), key=lambda r: (-round(r["score"], 6), r["id"]))
        for r in ranked[:num_results]:
            r["distance"] = geo_distance(q, r["clean_value"])
        return ranked[:num_results], {r["id"]: round(r["score"], 6) for r in ranked}

    def check_fuzzy(self, resp: list[dict], search: str, num_results: int,
                    filters: dict | None) -> str | None:
        """None when `resp` (the facade's result rows) matches; otherwise a
        one-line reason. Rows tied at 6-place rounded score may come in
        either id order only when the oracle scores them within EPS."""
        want, winners = self.fuzzy_ranked(search, num_results, filters)
        if len(resp) != len(want):
            return f"fuzzy {search!r}: {len(resp)} rows, want {len(want)}"
        for got, exp in zip(resp, want):
            if not close(got["score"], exp["score"], 2e-6):
                return f"fuzzy {search!r}: score {got['score']} want {exp['score']}"
            if got["id"] != exp["id"]:
                other = winners.get(got["id"])
                if other is None or abs(other - round(exp["score"], 6)) > 2e-6:
                    return f"fuzzy {search!r}: id {got['id']} want {exp['id']}"
                exp = {"id": got["id"], "clean_value": self.by_id[got["id"]]["clean_value"],
                       "ngram_similarity": fuzzy_score(clean(search), self.by_id[got["id"]]["clean_value"]),
                       "distance": geo_distance(clean(search), self.by_id[got["id"]]["clean_value"])}
            if got["clean_value"] != exp["clean_value"]:
                return f"fuzzy {search!r}: clean_value {got['clean_value']!r}"
            if not close(got["ngram_similarity"], exp["ngram_similarity"], 2e-6):
                return f"fuzzy {search!r}: ngram_similarity of {got['id']}"
            if got["distance"] != exp["distance"]:
                return f"fuzzy {search!r}: distance {got['distance']} want {exp['distance']}"
            if got.get("extra_ref") != self.by_id[got["id"]]["reference_code"]:
                return f"fuzzy {search!r}: extra of {got['id']} is {got.get('extra_ref')!r}"
        return None

    def check_best(self, resp: dict | None, search: str, filters: dict | None,
                   threshold: float = 0.90) -> str | None:
        top, _ = self.fuzzy_ranked(search, 1, filters)
        want = top[0] if top and top[0]["score"] >= threshold else None
        if want is None or resp is None:
            if (want is None) != (resp is None):
                return f"best {search!r}: got {resp and resp['id']} want {want and want['id']}"
            return None
        return self.check_fuzzy([resp], search, 1, filters)

    # ------------------------------------------------------------ radius

    @staticmethod
    def _match(r: dict, o_lat: float, o_lng: float, dlat: float, dlng: float):
        """(matches, on_boundary) for the R5 dispatch predicate."""
        if r["is_aggregate"]:
            bb = r["bbox"]
            if any(bb[k] is None for k in _BBOX):
                return False, False
            edges = (bb["ur_latitude"] - o_lat, o_lat - bb["ll_latitude"],
                     bb["ur_longitude"] - o_lng, o_lng - bb["ll_longitude"])
            return min(edges) >= 0, min(abs(e) for e in edges) < 1e-9
        v = ((o_lat - r["latitude"]) / dlat) ** 2 + ((o_lng - r["longitude"]) / dlng) ** 2
        return v < 1, abs(v - 1) < 1e-9

    def radius_ids(self, o_lat: float, o_lng: float, miles: float,
                   country: str | None = None, points_only: bool = False):
        """(ids that match, ids on a boundary)."""
        dlat, dlng = lat_delta(miles), lng_delta(o_lat, miles)
        hit, edge = set(), set()
        for r in self.rows:
            if points_only and r["is_aggregate"]:
                continue
            if country is not None and r["ref_data"]["country"] != country:
                continue
            m, b = self._match(r, o_lat, o_lng, dlat, dlng)
            if b:
                edge.add(r["id"])
            elif m:
                hit.add(r["id"])
        return hit, edge

    @staticmethod
    def _same_ids(kind: str, got, hit: set, edge: set) -> str | None:
        g = set(got)
        if len(g) != len(got):
            return f"{kind}: duplicate ids"
        diff = (g ^ hit) - edge
        if diff:
            return f"{kind}: {len(g)} ids, want {len(hit)} ({len(diff)} differ)"
        return None

    def check_radius(self, got: list[int], ref: str, miles: float,
                     country_exact: bool) -> str | None:
        o = self.by_ref.get(ref)
        if o is None:
            return None if not got else f"radius {ref}: missing origin gave rows"
        country = o["ref_data"]["country"] if country_exact else None
        hit, edge = self.radius_ids(o["latitude"], o["longitude"], miles, country)
        return self._same_ids(f"radius {ref} {miles}", got, hit, edge)

    def check_radius_ll(self, got: list[int], lat: float, lng: float,
                        miles: float) -> str | None:
        hit, edge = self.radius_ids(lat, lng, miles)
        return self._same_ids(f"radius_ll {lat},{lng} {miles}", got, hit, edge)

    def check_radius_pts(self, got: list[dict], lat: float, lng: float,
                         miles: float) -> str | None:
        hit, edge = self.radius_ids(lat, lng, miles, points_only=True)
        bad = self._same_ids(f"radius_pts {lat},{lng} {miles}",
                             [g["id"] for g in got], hit, edge)
        if bad:
            return bad
        for g in got:
            r = self.by_id[g["id"]]
            want = round(haversine(lat, lng, r["latitude"], r["longitude"]), 4)
            if abs(g["distance"] - want) > 1.5e-4:
                return f"radius_pts: distance of {g['id']} {g['distance']} want {want}"
        return None

    def check_radius_batch(self, got: list[list], origins: list[dict],
                           miles: float) -> str | None:
        by_origin: dict[int, list] = defaultdict(list)
        for oid, sid, dist in got:
            by_origin[oid].append((sid, dist))
        for o in origins:
            pairs = by_origin.get(o["origin_id"], [])
            hit, edge = self.radius_ids(o["latitude"], o["longitude"], miles)
            bad = self._same_ids(f"radius_batch origin {o['origin_id']}",
                                 [p[0] for p in pairs], hit, edge)
            if bad:
                return bad
            for sid, dist in pairs:
                r = self.by_id[sid]
                want = round(haversine(o["latitude"], o["longitude"],
                                       r["latitude"], r["longitude"]), 4)
                if abs(dist - want) > 1.5e-4:
                    return f"radius_batch: distance of {sid} {dist} want {want}"
        return None

    def pair(self, ref1: str, ref2: str) -> dict:
        o, d = self.by_ref.get(ref1), self.by_ref.get(ref2)
        if o is None or d is None:
            return {"distance": 999, "normalized_distance": 999, "aggregate": False}
        dist = round(haversine(o["latitude"], o["longitude"], d["latitude"], d["longitude"]), 4)
        if not o["is_aggregate"] and not d["is_aggregate"]:
            norm = dist
        elif o["is_aggregate"]:
            norm = dist if o["area"] < 10 else dist / math.log(max(o["area"], 1.0))
        else:
            norm = dist if d["area"] < 10 else dist / math.log(max(d["area"], 1.0))
        return {"distance": dist, "normalized_distance": norm,
                "aggregate": o["is_aggregate"] or d["is_aggregate"]}

    def check_pair(self, got: dict, ref1: str, ref2: str) -> str | None:
        want = self.pair(ref1, ref2)
        if got["aggregate"] != want["aggregate"]:
            return f"pair {ref1} {ref2}: aggregate {got['aggregate']}"
        for k in ("distance", "normalized_distance"):
            if abs(got[k] - want[k]) > 1.5e-4 * max(1.0, abs(want[k]) / 1000):
                return f"pair {ref1} {ref2}: {k} {got[k]} want {want[k]}"
        return None

    # ------------------------------------------------------------ lookups

    _FIELDS = ("id", "reference_code", "value", "clean_value", "geo_type",
               "population", "is_aggregate", "is_zip_code",
               "is_three_digit_zip_code", "primary_timezone", "ref_data",
               "long_display", "short_display")

    def check_record(self, got: dict | None, want: dict | None, key) -> str | None:
        if want is None or got is None:
            return None if want is got else f"lookup {key}: presence differs"
        for f in self._FIELDS:
            if got.get(f) != want.get(f):
                return f"lookup {key}: {f} {got.get(f)!r} want {want.get(f)!r}"
        for f in ("latitude", "longitude", "area"):
            if not close(got.get(f), want[f]):
                return f"lookup {key}: {f} {got.get(f)} want {want[f]}"
        for k in _BBOX:
            if not close((got.get("bbox") or {}).get(k), want["bbox"][k]):
                return f"lookup {key}: bbox.{k}"
        return None

    def check_by_ref(self, got, ref):
        return self.check_record(got, self.by_ref.get(ref), ref)

    def check_by_id(self, got, sid):
        return self.check_record(got, self.by_id.get(sid), sid)

    def check_time(self, got_iso: str | None, ref: str, t_start: float,
                   t_end: float) -> str | None:
        """The shape's wall-clock time (its IANA zone, UTC when null) at some
        instant during the request."""
        from zoneinfo import ZoneInfo

        r = self.by_ref.get(ref)
        if r is None or got_iso is None:
            return None if (r is None) == (got_iso is None) else f"time {ref}: presence"
        zone = ZoneInfo(r["primary_timezone"] or "UTC")
        got = _dt.datetime.fromisoformat(got_iso)
        lo = _dt.datetime.fromtimestamp(t_start - 2, zone).replace(tzinfo=None)
        hi = _dt.datetime.fromtimestamp(t_end + 2, zone).replace(tzinfo=None)
        if not lo <= got <= hi:
            return f"time {ref}: {got_iso} not within [{lo}, {hi}]"
        return None
