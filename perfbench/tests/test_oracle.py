"""Golden cases for the pure-Python oracle (reference semantics, SURVEY §2)."""

import math

import pytest

import oracle


def rec(i, value, pop=0, country="US", lat=36.0, lng=-86.0, agg=False, area=0.0,
        bbox=None):
    return {"id": i, "value": value, "clean_value": oracle.clean(value),
            "reference_code": f"ref_{i}", "latitude": str(lat), "longitude": str(lng),
            "bbox": bbox, "area": area, "geo_type": "City", "population": pop,
            "is_aggregate": agg, "is_zip_code": False, "is_three_digit_zip_code": False,
            "ref_data": {"city": value, "country": country, "zip_code": None,
                         "state_prov": "TN", "metro": None, "metro_size": None},
            "long_display": value, "short_display": value, "primary_timezone": None}


def test_tversky_and_prefix_boost():
    assert oracle.tversky("spring", "springfield") == pytest.approx(4 / 4.75)
    assert oracle.fuzzy_score("spring", "springfield") == pytest.approx(4 / 4.75 * 1.15)
    assert oracle.fuzzy_score("nash", "nashville tn") == pytest.approx(2 / 3.2 * 1.15)
    assert oracle.tversky("", "abc") == 0.0
    assert oracle.tversky("xyz", "abc") == 0.0


def test_population_weighting():
    f = 4 / 4.75 * 1.15
    assert oracle.geo_score("spring", "springfield", 100_000) == pytest.approx(
        f * 0.9 + math.log(100_000) * 0.1)
    assert oracle.geo_score("spring", "springfield", 0) == pytest.approx(f * 0.9)
    # weak matches are not population-weighted
    weak = oracle.fuzzy_score("spx", "springfield")
    assert weak <= 0.65
    assert oracle.geo_score("spx", "springfield", 10**6) == pytest.approx(weak * 0.9)


def test_numeric_query_scores_first_token():
    assert oracle.geo_score("627", "62701 us", 0) == pytest.approx(1 / 1.3 * 1.15 * 0.9)


def test_damerau_levenshtein():
    assert oracle.damerau("abc", "acb") == 1
    assert oracle.damerau("ca", "abc") == 2  # unrestricted: not 3 as in OSA
    assert oracle.damerau("", "abc") == 3
    assert oracle.damerau("kitten", "sitting") == 3
    assert oracle.geo_distance("springfield il", "springfeld il") == 1


def test_haversine_one_degree_on_equator():
    assert oracle.haversine(0, 0, 0, 1) == pytest.approx(
        oracle.EARTH_RADIUS_MILES * math.radians(1))


def test_pair_normalisation_ladder():
    orc = oracle.Oracle([
        rec(1, "a town", lat=36.0, lng=-86.0),
        rec(2, "b town", lat=36.0, lng=-87.0),
        rec(3, "c county", lat=36.0, lng=-87.0, agg=True, area=100.0),
        rec(4, "d county", lat=36.0, lng=-87.0, agg=True, area=5.0),
    ])
    d = round(oracle.haversine(36.0, -86.0, 36.0, -87.0), 4)
    assert orc.pair("ref_1", "ref_2") == {"distance": d, "normalized_distance": d,
                                          "aggregate": False}
    assert orc.pair("ref_3", "ref_1")["normalized_distance"] == pytest.approx(d / math.log(100))
    assert orc.pair("ref_1", "ref_3")["normalized_distance"] == pytest.approx(d / math.log(100))
    assert orc.pair("ref_4", "ref_1")["normalized_distance"] == d
    assert orc.pair("ref_1", "nope") == {"distance": 999, "normalized_distance": 999,
                                         "aggregate": False}


def test_radius_ellipse_and_bbox_dispatch():
    dlat = oracle.lat_delta(10.0)
    bbox = {"ll_latitude": "35.9", "ur_latitude": "36.1",
            "ll_longitude": "-86.1", "ur_longitude": "-85.9"}
    orc = oracle.Oracle([
        rec(1, "origin", lat=36.0, lng=-86.0),
        rec(2, "near", lat=36.0 + 0.5 * dlat, lng=-86.0),
        rec(3, "far", lat=36.0 + 1.01 * dlat, lng=-86.0),
        # centroid far away, but its bbox contains the origin point
        rec(4, "big county", lat=40.0, lng=-80.0, agg=True, area=50.0, bbox=bbox),
        rec(5, "mx near", lat=36.0, lng=-86.0, country="MX"),
    ])
    hit, _ = orc.radius_ids(36.0, -86.0, 10.0)
    assert hit == {1, 2, 4, 5}
    assert orc.check_radius([1, 2, 4], "ref_1", 10.0, country_exact=True) is None
    assert orc.check_radius([1, 2, 4, 5], "ref_1", 10.0, country_exact=True) is not None
    assert orc.check_radius([], "missing", 10.0, False) is None
    pts, _ = orc.radius_ids(36.0, -86.0, 10.0, points_only=True)
    assert pts == {1, 2, 5}


def test_fuzzy_dedupe_and_population():
    orc = oracle.Oracle([rec(1, "Springfield, IL", pop=10), rec(2, "Springfield, IL", pop=500_000),
                         rec(3, "Springdale, AR", pop=0)])
    top, _ = orc.fuzzy_ranked("springfield il", 10, None)
    # one row per clean_value; the better-scored duplicate wins
    assert [r["id"] for r in top] == [2, 3]
    assert top[0]["distance"] == 0


def test_candidate_cap_applies_before_filters():
    rows = [rec(i, f"zzq place {i}", country="US" if i <= 500 else "MX")
            for i in range(1, 601)]
    orc = oracle.Oracle(rows)
    top, _ = orc.fuzzy_ranked("zzq", 10, None)
    assert len(top) == 10
    # every MX row has an id above the 500-candidate cap
    assert orc.fuzzy_ranked("zzq", 10, {"ref_data.country": "MX"})[0] == []


def test_best_threshold():
    orc = oracle.Oracle([rec(1, "Nashville, TN", pop=600_000)])
    assert orc.check_best(None, "zzzz", None) is None
    top, _ = orc.fuzzy_ranked("nashville tn", 1, None)
    assert top[0]["score"] >= 0.9
    assert orc.check_best(None, "nashville tn", None) is not None


def _reply(orc, q, rows):
    return [{"id": r["id"], "clean_value": r["clean_value"],
             "ngram_similarity": r["ngram_similarity"], "score": r["score"],
             "distance": r["distance"], "extra_ref": orc.by_id[r["id"]]["reference_code"]}
            for r in rows]


def test_check_fuzzy_accepts_exact_ties_only():
    orc = oracle.Oracle([rec(1, "Oak Ridge, TN", pop=5_000), rec(2, "Oak Ridge, KY", pop=5_000),
                         rec(3, "Oakdale, CA", pop=5_000)])
    top, _ = orc.fuzzy_ranked("oak", 10, None)
    good = _reply(orc, "oak", top)
    assert orc.check_fuzzy(good, "oak", 10, None) is None
    # the two "oak ridge" rows tie exactly; the engine may order them either way
    assert [r["id"] for r in good] == [3, 1, 2] and good[1]["score"] == good[2]["score"]
    swapped = [good[0], good[2], good[1]]
    assert orc.check_fuzzy(swapped, "oak", 10, None) is None
    wrong = [dict(good[0], distance=good[0]["distance"] + 1)] + good[1:]
    assert orc.check_fuzzy(wrong, "oak", 10, None) is not None
    assert orc.check_fuzzy(good[:-1], "oak", 10, None) is not None
