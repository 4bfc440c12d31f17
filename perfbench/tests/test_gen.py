"""The generator is deterministic per seed and emits reference-format records."""

import gen

N = 3_000


def test_same_seed_same_table():
    assert gen.generate_shapes(5, N) == gen.generate_shapes(5, N)


def test_other_seed_other_table():
    a, b = gen.generate_shapes(5, N), gen.generate_shapes(6, N)
    assert [r["clean_value"] for r in a] != [r["clean_value"] for r in b]


def test_table_shape():
    shapes = gen.generate_shapes(1, N)
    assert len(shapes) == N
    assert len({r["id"] for r in shapes}) == N
    assert len({r["reference_code"] for r in shapes}) == N
    types = {r["geo_type"] for r in shapes}
    assert types == {"City", "ZipCode", "County", "MetroArea"}
    assert {r["ref_data"]["country"] for r in shapes} == {"US", "CA", "MX"}
    for r in shapes:
        # the wire format carries coordinates as strings
        assert isinstance(r["latitude"], str) and isinstance(r["longitude"], str)
        assert r["clean_value"] == gen.clean_entity(r["value"])
        if r["is_aggregate"]:
            bb = r["bbox"]
            assert float(bb["ll_latitude"]) < float(r["latitude"]) < float(bb["ur_latitude"])
            assert r["area"] > 0
        else:
            assert r["bbox"] is None and r["area"] == 0.0


def test_names_are_diverse():
    shapes = gen.generate_shapes(1, N)
    cities = [r["clean_value"] for r in shapes if r["geo_type"] == "City"]
    assert len(set(cities)) > 0.8 * len(cities)


def test_streams_deterministic():
    shapes = gen.generate_shapes(2, N)
    assert gen.autocomplete_sessions(shapes, 2, 20) == gen.autocomplete_sessions(shapes, 2, 20)
    assert gen.spatial_stream(shapes, 2, 5) == gen.spatial_stream(shapes, 2, 5)
    assert gen.spatial_stream(shapes, 2, 5) != gen.spatial_stream(shapes, 3, 5)


def test_session_shape():
    shapes = gen.generate_shapes(2, N)
    for sess in gen.autocomplete_sessions(shapes, 2, 50):
        # fixed length, so a run that completes k sessions sends a fixed mix
        assert len(sess) == gen.SESSION_KEYS + 1
        assert sess[-1]["op"] == "best_fuzzy"
        qs = [r["q"] for r in sess[:-1]]
        assert all(r["op"] == "fuzzy" and r["filters"] is None for r in sess[:-1])
        assert len(qs[0]) == 3
        # one keystroke per request
        assert all(len(b) == len(a) + 1 and b.startswith(a) for a, b in zip(qs, qs[1:]))
        # the submit is the whole typed name, scoped by one dotted-path filter
        assert sess[-1]["q"].startswith(qs[-1])
        (key, value), = sess[-1]["filters"].items()
        assert key in ("ref_data.country", "ref_data.state_prov") and value


def test_spatial_mix_is_fixed_per_cycle():
    shapes = gen.generate_shapes(2, N)
    cycle = len(gen.SPATIAL_CYCLE)
    stream = gen.spatial_stream(shapes, 9, 8)
    assert len(stream) == 8 * cycle
    radii = []
    for c in range(8):
        part = stream[c * cycle:(c + 1) * cycle]
        assert sorted(r["op"] for r in part) == sorted(gen.SPATIAL_CYCLE)
        radius, = [r for r in part if r["op"] == "radius"]
        assert radius["country_exact"] == (radius["radius"] == gen.RADIUS_MILES[0])
        radii.append(radius["radius"])
        ll = {r["radius"] for r in part if r["op"] in ("radius_ll", "radius_pts")}
        assert len(ll) == 1 and ll <= set(gen.LATLNG_MILES)
        for r in part:
            if r["op"] in ("radius_batch", "radius_grid"):
                assert len(r["origins"]) == gen.BATCH_ORIGINS
    # the radii rotate: every four cycles send each radius once
    assert sorted(radii[:4]) == sorted(radii[4:]) == list(gen.RADIUS_MILES)


def test_dump_round_trip(tmp_path):
    import json

    shapes = gen.generate_shapes(4, 200)
    url = gen.write_dump(str(tmp_path), shapes)
    assert url.startswith("file://") and url.endswith("/")
    with open(tmp_path / "geo_manager_shape.json") as f:
        assert [json.loads(line) for line in f] == shapes
