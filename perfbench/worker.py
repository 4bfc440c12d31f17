"""One workload repetition, run as a child process of `run.py`.

It reads the generated inputs, starts a Spark session with the program's
shipped defaults, loads the shape dump through `GeoManager.load_data` (three
times; set-up counts the median load), writes the gridded layout when the
workload uses it, sends each request type once, then drives the workload's
request stream through the `GeoManager` facade as closed-loop
clients (each client sends its next request only after the previous reply)
until the measuring window closes. Replies of the seeded sample are kept for
the oracle, which `run.py` applies after this process has ended, outside the
timed path.

With ``--trace 1`` the span recorder is installed first and each request runs
under its own Spark job group. After the window has closed, a few requests of
each type are sent again one at a time, each followed by its layers'
pipelines collected alone, to attribute the request's time to the layers.

Writes ``result.json`` into the work directory.
"""

from __future__ import annotations

import argparse
import datetime as _dt
import json
import os
import sys
import threading
import time

T_START = time.perf_counter()


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler(threading.Thread):
    """Peak resident set size of one process, sampled every 50 ms."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid, self.peak_kb = pid, _rss_kb(pid)
        self.halt = threading.Event()

    def run(self):
        while not self.halt.wait(0.05):
            self.peak_kb = max(self.peak_kb, _rss_kb(self.pid))


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
        return True
    except OSError:
        return False


# ----------------------------------------------------------------- requests

def _fuzzy_rows(rows):
    return [{"id": r["id"], "clean_value": r["clean_value"],
             "ngram_similarity": r["ngram_similarity"], "score": r["score"],
             "distance": r["distance"],
             "extra_ref": (r.get("extra") or {}).get("reference_code")}
            for r in rows]


def call(m, spark, gridded, req):
    """Issue one request through the facade (the batch joins through the
    layer's function). Returns the raw reply."""
    op = req["op"]
    if op == "fuzzy":
        return m.fuzzy_search(req["q"], num_results=10, filters=req["filters"])
    if op == "best_fuzzy":
        return m.best_fuzzy_search(req["q"], filters=req["filters"])
    if op == "radius":
        return m.radius_search(req["ref"], req["radius"],
                               country_exact=req["country_exact"])
    if op == "radius_ll":
        return m.radius_search_lat_lng(req["lat"], req["lng"], req["radius"])
    if op == "radius_pts":
        return m.radius_lat_lng_search(req["lat"], req["lng"], req["radius"])
    if op == "by_ref":
        return m.get_shape_by_ref_code(req["ref"])
    if op == "by_id":
        return m.get_shape_by_id(req["id"])
    if op == "pair":
        return m.get_shape_pair_distance(req["ref"], req["ref2"])
    if op == "time":
        return m.get_shape_time_by_ref_code(req["ref"])
    if op == "radius_batch":
        from yat_geo_db_spark.geo import radius as _radius

        origins = spark.createDataFrame(
            [(o["origin_id"], o["latitude"], o["longitude"]) for o in req["origins"]],
            "origin_id long, latitude double, longitude double")
        return _radius.radius_join(m.shapes, origins, req["radius"]).collect()
    if op == "radius_grid":
        from yat_geo_db_spark.geo import grid as _grid

        origins = spark.createDataFrame(
            [(o["origin_id"], o["latitude"], o["longitude"]) for o in req["origins"]],
            "origin_id long, latitude double, longitude double")
        return _grid.radius_join_gridded(gridded, origins, req["radius"],
                                         cell_deg=GRID_CELL_DEG).collect()
    raise ValueError(f"unknown op {op}")


def compact(op, reply):
    """The JSON form of a reply that the oracle checks."""
    if op == "fuzzy":
        return _fuzzy_rows(reply)
    if op == "best_fuzzy":
        return None if reply is None else _fuzzy_rows([reply])[0]
    if op == "radius_pts":
        return [{"id": r["id"], "distance": r["distance"]} for r in reply]
    if op == "time":
        return None if reply is None else reply.isoformat()
    if op in ("radius_batch", "radius_grid"):
        return [[r["origin_id"], r["id"], r["distance"]] for r in reply]
    return reply


def probe(m, spark, gridded, req) -> dict:
    """Traced run only, after the window has closed: the request is sent
    again on its own, then each layer's pipeline for it is collected alone,
    so the layer's share of the request is attributed without another
    client's request running beside it."""
    import pyspark.sql.functions as F
    from yat_geo_db_spark.geo import fuzzy as _fuzzy
    from yat_geo_db_spark.geo import lookup as _lookup
    from yat_geo_db_spark.geo import radius as _radius

    op, shapes = req["op"], m.shapes

    def timed(fn):
        t = time.perf_counter()
        res = fn()
        return time.perf_counter() - t, res

    facade_s, reply = timed(lambda: call(m, spark, gridded, req))
    out = {"facade_s": facade_s}
    if op in ("fuzzy", "best_fuzzy"):
        n = 10 if op == "fuzzy" else 1
        out["pipeline_s"], _ = timed(lambda: _fuzzy.fuzzy_search(
            shapes, req["q"], num_results=n, filters=req["filters"],
            postings=m._postings).collect())
        out["no_damerau_s"], _ = timed(lambda: _fuzzy.fuzzy_search(
            shapes, req["q"], num_results=n, filters=req["filters"],
            postings=m._postings, with_damerau=False).collect())
        grams = sorted(set(_fuzzy.ngrams_list(_fuzzy.clean_entity(req["q"]))))
        cap = max(n, _fuzzy.CANDIDATE_FLOOR)
        out["postings_s"], cands = timed(lambda: (
            m._postings.filter(F.col("ngram").isin(grams))
            .groupBy("entity_id").agg(F.count("*").alias("hits"))
            .orderBy(F.desc("hits"), F.asc("entity_id")).limit(cap).collect()))
        out["candidates"] = len(cands)
        out["returned"] = len(reply) if op == "fuzzy" else int(reply is not None)
    elif op == "radius":
        out["search_s"], rows = timed(lambda: _radius.radius_search(
            shapes, req["ref"], req["radius"],
            country_exact=req["country_exact"]).collect())
        out["rows"] = len(rows)
    elif op in ("radius_ll", "radius_pts"):
        pts = op == "radius_pts"
        out["search_s"], rows = timed(lambda: _radius.radius_search_lat_lng(
            shapes, req["lat"], req["lng"], req["radius"], full_results=pts,
            exclude_aggregates=pts).collect())
        out["rows"] = len(rows)
    elif op == "pair":
        pairs = spark.createDataFrame([(req["ref"], req["ref2"])],
                                      "orig_ref string, dest_ref string")
        out["pair_s"], _ = timed(lambda: _radius.pair_distances(shapes, pairs).first())
    elif op == "by_ref":
        out["by_ref_s"], _ = timed(lambda: _lookup.shape_by_ref_code(shapes, req["ref"]).first())
    elif op == "by_id":
        out["by_id_s"], _ = timed(lambda: _lookup.shape_by_id(shapes, req["id"]).first())
    elif op == "time":
        out["local_time_s"], _ = timed(lambda: _lookup.shape_local_time(
            _lookup.shape_by_ref_code(shapes, req["ref"])).first())
    elif op in ("radius_batch", "radius_grid"):
        # the request is the join itself
        out["join_s"], out["join_pairs"] = facade_s, len(reply)
    return out


def run_clients(fn, per_client: list[tuple]) -> None:
    """Run fn(*args) for each client's args in its own thread; wait for all."""
    threads = [threading.Thread(target=fn, args=args) for args in per_client]
    for th in threads:
        th.start()
    for th in threads:
        th.join()


# -------------------------------------------------------------------- main

#: loads of the dump per run; set-up time counts the median one
SETUP_LOADS = 3
#: cell edge (degrees) of the gridded layout the spatial workload writes
#: in set-up: at the default 1 degree the write of the 60k-shape table
#: makes ~1,300 cell directories and takes ~13 s of a run's set-up
GRID_CELL_DEG = 5.0
#: traced run: requests of each type replayed with probes after the window
PROBES_PER_OP = 2


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args(argv)
    work = args.work
    with open(os.path.join(work, "inputs.json")) as f:
        inputs = json.load(f)

    tracer = None
    if args.trace:
        import spans

        tracer = spans.Tracer()
        tracer.install()
    from yat_geo_db_spark import session
    from yat_geo_db_spark.geo import grid
    from yat_geo_db_spark.manager import GeoManager

    spark = session.get_spark()
    session_s = time.perf_counter() - T_START
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    jvm_pid = spark._jvm.ProcessHandle.current().pid()
    rss = RssSampler(jvm_pid)
    rss.start()

    # the dump is loaded SETUP_LOADS times, each into a fresh store, and the
    # last load serves; set-up counts the median load, since one load's time
    # spreads more than the other parts of set-up
    loads, m = [], None
    for k in range(SETUP_LOADS):
        if m is not None:
            m.shapes.unpersist()
        t1 = time.perf_counter()
        m = GeoManager(spark)
        m.load_data(os.path.join(work, f"store{k}"), base_url=inputs["base_url"])
        t2 = time.perf_counter()
        n_shapes = m.num_shapes
        loads.append((t2 - t1, time.perf_counter() - t2))
    load_s, materialize_s = sorted(loads, key=sum)[SETUP_LOADS // 2]
    t3 = time.perf_counter()
    gridded = None
    if inputs["gridded"]:
        path = os.path.join(work, "gridded")
        grid.write_gridded_shapes(m.shapes, path, cell_deg=GRID_CELL_DEG)
        gridded = grid.read_gridded_shapes(spark, path)
    t4 = time.perf_counter()
    # one request of each type, the clients running side by side as in the
    # window, before timing starts: the first requests pay one-off costs
    # (Python UDF worker start-up, code generation) that every process pays
    # once, so they belong to set-up
    def warm(reqs: list[dict]) -> None:
        for req in reqs:
            call(m, spark, gridded, req)
    run_clients(warm, [(reqs,) for reqs in inputs["warmup"]])
    t5 = time.perf_counter()
    setup = {"session_s": session_s, "load_s": load_s, "materialize_s": materialize_s,
             "loads_s": [sum(x) for x in loads], "grid_s": t4 - t3,
             "warmup_s": t5 - t4,
             "setup_s": session_s + load_s + materialize_s + (t5 - t3)}

    records: list[dict] = []
    lock = threading.Lock()
    state = {"jvm_died": False, "lost": 0}
    t_begin = time.perf_counter()
    deadline = t_begin + args.seconds
    # a client stops only between whole mix cycles (so every run sends the
    # same mix), at the cycle boundary nearest to the deadline
    cycle = inputs["cycle"]

    def client(cid: int, reqs: list[dict]) -> None:
        lat_sum, done = 0.0, 0
        for idx, req in enumerate(reqs):
            if state["jvm_died"]:
                break
            if idx and idx % cycle == 0:
                now = time.perf_counter()
                per_cycle = (now - t_begin) * cycle / idx
                if now + per_cycle / 2 >= deadline:
                    break
            rid = f"c{cid}-{idx}"
            rec = {"op": req["op"], "client": cid, "idx": idx}
            if tracer is not None:
                sc.setJobGroup(rid, req["op"])
                tracer.set_request(rid)
            rec["wall0"] = time.time()
            t = time.perf_counter()
            try:
                if tracer is not None:
                    with tracer.span("req." + req["op"]):
                        reply = call(m, spark, gridded, req)
                else:
                    reply = call(m, spark, gridded, req)
                rec["lat_s"] = time.perf_counter() - t
                rec["ok"] = True
            except Exception as exc:  # counted as failed
                rec["lat_s"] = time.perf_counter() - t
                rec["ok"], rec["err"] = False, f"{type(exc).__name__}: {str(exc)[:300]}"
                reply = None
                if not _alive(jvm_pid):
                    state["jvm_died"] = True
                    # closed loop: the rest of the window at this client's pace
                    pace = (lat_sum + rec["lat_s"]) / (done + 1)
                    left = max(deadline - time.perf_counter(), 0.0)
                    with lock:
                        state["lost"] += int(left / max(pace, 1e-3)) + 1
            rec["end"] = time.perf_counter() - t_begin
            rec["wall1"] = time.time()
            lat_sum, done = lat_sum + rec["lat_s"], done + 1
            if rec["ok"] and req.get("chk"):
                rec["resp"] = compact(req["op"], reply)
            if tracer is not None:
                tracer.set_request(None)
            with lock:
                records.append(rec)

    streams = inputs["clients"]
    run_clients(client, list(enumerate(streams)))
    t_end = time.perf_counter()

    result = {"setup": setup, "n_shapes": n_shapes, "records": records,
              "window_s": t_end - t_begin, "jvm_died": state["jvm_died"],
              "lost": state["lost"]}
    if tracer is not None and not state["jvm_died"]:
        from spans import job_group_counts

        time.sleep(0.5)  # let the listener bus deliver the last job events
        for rec in records:
            rec["jobs"] = job_group_counts(sc, f"c{rec['client']}-{rec['idx']}")
        replayed: dict = {}
        for rec in sorted(records, key=lambda r: (r["client"], r["idx"])):
            if not rec["ok"] or replayed.get(rec["op"], 0) >= PROBES_PER_OP:
                continue
            replayed[rec["op"]] = replayed.get(rec["op"], 0) + 1
            rid = f"c{rec['client']}-{rec['idx']}:probe"
            sc.setJobGroup(rid, "probe")
            tracer.set_request(rid)
            rec["probe"] = probe(m, spark, gridded, streams[rec["client"]][rec["idx"]])
            tracer.set_request(None)
        result["wrapper_cost_s"] = tracer.wrapper_cost_s()
        self_t = tracer.self_times()
        result["spans"] = [list(s) + [self_t[s[0]]] for s in tracer.spans]
    rss.halt.set()
    rss.join()
    result["jvm_peak_rss_kb"] = rss.peak_kb
    tmp = os.path.join(work, "result.json.tmp")
    with open(tmp, "w") as f:
        json.dump(result, f, default=lambda o: o.isoformat()
                  if isinstance(o, (_dt.datetime, _dt.date)) else str(o))
    os.replace(tmp, os.path.join(work, "result.json"))
    try:
        spark.stop()
    except Exception:
        pass
    return 0


if __name__ == "__main__":
    sys.exit(main())
