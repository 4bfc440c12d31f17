"""Geo-serving benchmark: one run of one workload.

    python3 perfbench/run.py --workload autocomplete --seed 1 --seconds 12 --trace 0

Run from the repository root. The harness generates the seeded inputs, starts
the workload in a child process (`worker.py`, with ``PYTHONPATH`` set to the
repository root so Spark's Python workers can import the package), checks the
sampled replies against the pure-Python oracle (`oracle.py`) after the child
has ended, and prints one line per metric followed, as the last line, by a
JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` they are
the per-layer ones from the span recorder (`spans.py`).

See README.md in this directory for the workloads and the metrics.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("autocomplete", "spatial")

#: shapes in the served table. The reference's scale is ~250k (gen.N_SHAPES);
#: at that size a cold run (session start + ingest + first requests) plus the
#: measuring window does not fit the per-run time budget, so the table is a
#: quarter of it, generated with the same mix and name grammar.
TABLE_SHAPES = 60_000
#: autocomplete: concurrent closed-loop clients (each one user typing)
AUTOCOMPLETE_CLIENTS = 2
#: share of requests whose replies the oracle checks (a seeded sample)
CHECK_FRAC = 0.5
#: the worker is killed this many seconds after the run started, which
#: leaves time to reap its processes within three minutes
HARD_LIMIT_S = 150.0

WARM_FUZZY = "springfield"

#: request types each workload sends; every one of them must have samples
WORKLOAD_OPS = {
    "autocomplete": ("fuzzy", "best_fuzzy"),
    "spatial": gen.SPATIAL_CYCLE,
}
ALL_OPS = WORKLOAD_OPS["autocomplete"] + WORKLOAD_OPS["spatial"]

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "req_per_s": "1/s",
    "p50_gmean_ms": "ms",
}


def per_layer_units() -> dict:
    units = {
        "session.get_spark_s": "s", "ingest.fetch_s": "s", "ingest.write_s": "s",
        "ingest.read_s": "s",
        "manager.enrich_ms": "ms", "manager.self_ms_per_req": "ms",
        "fuzzy.pipeline_ms": "ms", "fuzzy.damerau_ms": "ms",
        "fuzzy.postings_ms": "ms", "fuzzy.candidates": "count",
        "fuzzy.useful_ratio": "ratio", "fuzzy.self_ms_per_req": "ms",
        "radius.search_ms": "ms", "radius.rows_returned": "count",
        "radius.pair_distances_ms": "ms", "radius.join_s": "s",
        "radius.join_pairs": "count", "radius.self_ms_per_req": "ms",
        "lookup.by_ref_ms": "ms", "lookup.by_id_ms": "ms",
        "lookup.local_time_ms": "ms", "lookup.self_ms_per_req": "ms",
        "grid.write_s": "s", "grid.join_s": "s", "grid.join_pairs": "count",
        "grid.self_ms_per_req": "ms",
        "trace.p50_gmean_ms": "ms", "trace.wrapper_ms_per_req": "ms",
        "trace.spans_per_req": "count",
        # the JVM's heap grows with G1's collection timing, so its peak RSS
        # spreads ~25 % between runs of the same code: reported, not bounded
        "jvm.peak_rss_mb": "MB",
    }
    for kind in ("jobs", "stages", "tasks"):
        for op in ALL_OPS:
            units[f"spark.{kind}_per_req.{op}"] = "count"
    return units


class NoSamples(Exception):
    """A request type the workload sends has no sample for a metric."""


# ------------------------------------------------------------------ inputs

def make_inputs(workload: str, seed: int, work: str) -> tuple[list[dict], dict]:
    """Generate the table dump and the clients' request streams. Returns the
    shape records (for the oracle) and the inputs document for the worker."""
    shapes = gen.generate_shapes(seed, TABLE_SHAPES)
    base_url = gen.write_dump(os.path.join(work, "dump"), shapes)
    if workload == "autocomplete":
        sessions = gen.autocomplete_sessions(shapes, seed, 100 * AUTOCOMPLETE_CLIENTS)
        clients = [[r for s in sessions[k::AUTOCOMPLETE_CLIENTS] for r in s]
                   for k in range(AUTOCOMPLETE_CLIENTS)]
        # set-up sends each type once, the two clients side by side
        warmup = [[{"op": "fuzzy", "q": WARM_FUZZY, "filters": None}],
                  [{"op": "best_fuzzy", "q": WARM_FUZZY,
                    "filters": {"ref_data.country": "US"}}]]
        cycle = gen.SESSION_KEYS + 1
    else:
        clients = [gen.spatial_stream(shapes, seed, 300)]
        warmup = [gen.spatial_stream(shapes, seed + 7_777, 1)]
        cycle = len(gen.SPATIAL_CYCLE)
    rng = random.Random(seed * 31 + 17)
    for stream in clients:
        for req in stream:
            req["chk"] = rng.random() < CHECK_FRAC
    return shapes, {"base_url": base_url, "clients": clients, "warmup": warmup,
                    "cycle": cycle, "gridded": "radius_grid" in WORKLOAD_OPS[workload]}


# ----------------------------------------------------------------- process

def wait_group_gone(pgid: int, timeout: float) -> None:
    """Wait until no process of group `pgid` is left; kill what remains."""
    end = time.time() + timeout
    sig = 0
    while True:
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        except PermissionError:
            return
        if time.time() > end:
            sig = signal.SIGKILL
            end = time.time() + 10
        time.sleep(0.1)


def run_worker(args, work: str, t0: float) -> tuple[dict | None, str]:
    """Run the workload in a child process over the inputs already in
    `work`; returns its result (None if it failed) and the end of its log."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH", "")) if p)
    env["TZ"] = "UTC"
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = os.path.join(work, "tmp")
    env["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    env.setdefault("PYSPARK_PYTHON", sys.executable)
    log_path = os.path.join(work, "worker.log")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--work", work,
           "--seconds", str(args.seconds), "--trace", str(args.trace)]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
    try:
        proc.wait(timeout=max(HARD_LIMIT_S - (time.time() - t0), 1.0))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        wait_group_gone(proc.pid, 10.0)
    with open(log_path, errors="replace") as f:
        log_tail = f.read()[-4000:]
    res_path = os.path.join(work, "result.json")
    if proc.returncode != 0 or not os.path.exists(res_path):
        return None, log_tail
    with open(res_path) as f:
        return json.load(f), log_tail


# ------------------------------------------------------------------ oracle

def check_replies(orc: oracle.Oracle, reqs: dict, records: list[dict]) -> list[str]:
    """Oracle verdict for every sampled reply; returns the mismatches."""
    bad = []
    for rec in records:
        if "resp" not in rec:
            continue
        req, got, op = reqs[(rec["client"], rec["idx"])], rec["resp"], rec["op"]
        if op == "fuzzy":
            why = orc.check_fuzzy(got, req["q"], 10, req["filters"])
        elif op == "best_fuzzy":
            why = orc.check_best(got, req["q"], req["filters"])
        elif op == "radius":
            why = orc.check_radius(got, req["ref"], req["radius"], req["country_exact"])
        elif op == "radius_ll":
            why = orc.check_radius_ll(got, req["lat"], req["lng"], req["radius"])
        elif op == "radius_pts":
            why = orc.check_radius_pts(got, req["lat"], req["lng"], req["radius"])
        elif op == "by_ref":
            why = orc.check_by_ref(got, req["ref"])
        elif op == "by_id":
            why = orc.check_by_id(got, req["id"])
        elif op == "pair":
            why = orc.check_pair(got, req["ref"], req["ref2"])
        elif op == "time":
            why = orc.check_time(got, req["ref"], rec["wall0"], rec["wall1"])
        elif op in ("radius_batch", "radius_grid"):
            why = orc.check_radius_batch(got, req["origins"], req["radius"])
        else:
            why = f"unknown op {op}"
        if why:
            bad.append(why)
    return bad


# ----------------------------------------------------------------- metrics

def _ms(xs):
    return [x * 1000.0 for x in xs]


def latency_lines(records: list[dict]) -> list[str]:
    lines = []
    for op in ALL_OPS:
        lat = _ms([r["lat_s"] for r in records if r["op"] == op and r["ok"]])
        if not lat:
            continue
        t = stats.tail(lat)
        tail = (f"tail p{t[1]} {t[0]:.1f} ms (n={t[2]})" if t
                else f"tail n/a (n={len(lat)} <= {stats.TAIL_BEYOND})")
        lines.append(f"  {op:<13} p50 {stats.median(lat):9.1f} ms  {tail}")
    return lines


def throughput(records: list[dict]) -> float:
    """Completed requests per second, summed over the closed-loop clients.
    Each client's rate is its completions over the time to its last one, so
    the rate does not depend on where the window cut a request."""
    rate = 0.0
    for c in {r["client"] for r in records}:
        mine = [r for r in records if r["client"] == c]
        span = max(r["end"] for r in mine)
        if span > 0:
            rate += sum(r["ok"] for r in mine) / span
    return rate


def p50_gmean_ms(records: list[dict], ops) -> float:
    """Geometric mean, over the request types the workload sends, of each
    type's median latency (ms). Every type weighs the same, whatever the
    mix: a change that halves one of k types' latency lowers it by a factor
    2^(1/k)."""
    logs = []
    for op in ops:
        lat = [r["lat_s"] for r in records if r["op"] == op and r["ok"]]
        if not lat:
            raise NoSamples(f"no completed {op} request")
        logs.append(math.log(stats.median(lat) * 1000.0))
    return math.exp(sum(logs) / len(logs))


def end_to_end(res: dict, ops) -> dict:
    return {
        "setup_s": res["setup"]["setup_s"],
        "req_per_s": throughput(res["records"]),
        "p50_gmean_ms": p50_gmean_ms(res["records"], ops),
    }


#: request types behind each probe-based per-layer metric
FUZZY_OPS = ("fuzzy", "best_fuzzy")
RADIUS_OPS = ("radius", "radius_ll", "radius_pts")


def per_layer(res: dict, ops) -> tuple[dict, list[str]]:
    """Per-layer metrics of a traced run. A metric whose request types the
    workload does not send reads 0; one whose types it sends but that has no
    sample raises NoSamples."""
    recs = [r for r in res["records"] if r["ok"]]
    spans_ = res["spans"]  # (id, name, start, end, parent, req, self)

    def med(key_or_fn, from_ops, scale=1.0):
        """Median over the probed requests of `from_ops`."""
        xs = [key_or_fn(r["probe"]) if callable(key_or_fn) else r["probe"].get(key_or_fn)
              for r in recs if "probe" in r and r["op"] in from_ops]
        xs = [x for x in xs if x is not None]
        if xs:
            return stats.median(xs) * scale
        if set(from_ops) & set(ops):
            raise NoSamples(f"no probe of {'/'.join(from_ops)}")
        return 0.0

    def setup_s(name):
        """Median duration of the set-up spans called `name`."""
        ds = [s[3] - s[2] for s in spans_ if s[1] == name and s[5] is None]
        return stats.median(ds) if ds else 0.0

    fuzzy_probes = [r["probe"] for r in recs if r["op"] in FUZZY_OPS and "probe" in r]
    cands = sum(p["candidates"] for p in fuzzy_probes)
    # spans of the window's requests (not set-up or replays)
    by_req: dict = {f"c{r['client']}-{r['idx']}": [] for r in res["records"]}
    for s in spans_:
        if s[5] in by_req:
            by_req[s[5]].append(s)

    def self_per_req(layer):
        total = sum(s[6] for ss in by_req.values() for s in ss
                    if s[1].startswith(layer + "."))
        return total / len(by_req) * 1000.0

    m = {
        "session.get_spark_s": setup_s("session.get_spark"),
        "ingest.fetch_s": setup_s("ingest.fetch_shape_files"),
        "ingest.write_s": setup_s("ingest.ingest_shapes_json"),
        # read_shapes is lazy: the scan runs in the first count
        "ingest.read_s": setup_s("ingest.read_shapes") + setup_s("lookup.num_shapes"),
        "manager.enrich_ms": med(lambda p: p["facade_s"] - p["pipeline_s"],
                                 FUZZY_OPS, 1000.0),
        "manager.self_ms_per_req": self_per_req("manager"),
        "fuzzy.pipeline_ms": med("pipeline_s", FUZZY_OPS, 1000.0),
        "fuzzy.damerau_ms": med(lambda p: p["pipeline_s"] - p["no_damerau_s"],
                                FUZZY_OPS, 1000.0),
        "fuzzy.postings_ms": med("postings_s", FUZZY_OPS, 1000.0),
        "fuzzy.candidates": med("candidates", FUZZY_OPS),
        "fuzzy.useful_ratio": (sum(p["returned"] for p in fuzzy_probes) / cands
                               if cands else 0.0),
        "fuzzy.self_ms_per_req": self_per_req("fuzzy"),
        "radius.search_ms": med("search_s", RADIUS_OPS, 1000.0),
        "radius.rows_returned": med("rows", RADIUS_OPS),
        "radius.pair_distances_ms": med("pair_s", ("pair",), 1000.0),
        "radius.join_s": med("join_s", ("radius_batch",)),
        "radius.join_pairs": med("join_pairs", ("radius_batch",)),
        "radius.self_ms_per_req": self_per_req("radius"),
        "lookup.by_ref_ms": med("by_ref_s", ("by_ref",), 1000.0),
        "lookup.by_id_ms": med("by_id_s", ("by_id",), 1000.0),
        "lookup.local_time_ms": med("local_time_s", ("time",), 1000.0),
        "lookup.self_ms_per_req": self_per_req("lookup"),
        "grid.write_s": setup_s("grid.write_gridded_shapes"),
        "grid.join_s": med("join_s", ("radius_grid",)),
        "grid.join_pairs": med("join_pairs", ("radius_grid",)),
        "grid.self_ms_per_req": self_per_req("grid"),
        "trace.p50_gmean_ms": p50_gmean_ms(recs, ops),
        "trace.spans_per_req": stats.median([len(ss) for ss in by_req.values()]),
        "jvm.peak_rss_mb": res["jvm_peak_rss_kb"] / 1024.0,
    }
    m["trace.wrapper_ms_per_req"] = (m["trace.spans_per_req"]
                                     * res["wrapper_cost_s"] * 1000.0)
    for k, kind in enumerate(("jobs", "stages", "tasks")):
        for op in ALL_OPS:
            counts = [r["jobs"][k] for r in recs if r["op"] == op]
            if not counts and op in ops:
                raise NoSamples(f"no Spark counts of {op}")
            m[f"spark.{kind}_per_req.{op}"] = stats.median(counts) if counts else 0.0
    lines = ["  self time per request (mean, ms): " + ", ".join(
        f"{layer} {m[f'{layer}.self_ms_per_req']:.1f}"
        for layer in ("manager", "fuzzy", "radius", "lookup", "grid")),
        f"  span wrappers: {m['trace.spans_per_req']:.0f} spans/request x "
        f"{res['wrapper_cost_s'] * 1e6:.2f} us = {m['trace.wrapper_ms_per_req']:.4f} ms",
        f"  traced p50_gmean_ms {m['trace.p50_gmean_ms']:.1f}: the tracing overhead is "
        f"this minus p50_gmean_ms of an untraced run of the same seed"]
    return m, lines


# -------------------------------------------------------------------- main

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t0 = time.time()

    if not os.path.isfile(os.path.join(ROOT, "yat_geo_db_spark", "manager.py")):
        print(f"benchmark: the package yat_geo_db_spark is not under {ROOT}",
              file=sys.stderr)
        return 2
    ops = WORKLOAD_OPS[args.workload]
    work = os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        # inputs are made before the worker starts, so that generating them
        # does not compete with the worker's set-up for the processors
        shapes, inputs = make_inputs(args.workload, args.seed, work)
        with open(os.path.join(work, "inputs.json"), "w") as f:
            json.dump(inputs, f)
        res, log_tail = run_worker(args, work, t0)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if res is None:
        print("benchmark: the worker failed; end of its log:\n" + log_tail,
              file=sys.stderr)
        return 1
    reqs = {(k, i): req for k, stream in enumerate(inputs["clients"])
            for i, req in enumerate(stream)}

    records = res["records"]
    orc = oracle.Oracle(shapes)
    mismatches = check_replies(orc, reqs, records)
    errored = [r for r in records if not r["ok"]]
    attempted = len(records) + res["lost"]
    failed = len(errored) + len(mismatches) + res["lost"]
    checked = sum(1 for r in records if "resp" in r)

    su = res["setup"]
    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} shapes={res['n_shapes']}")
    print(f"  setup: session {su['session_s']:.2f} s + load_data {su['load_s']:.2f} s"
          f" + first scan {su['materialize_s']:.2f} s (median of loads "
          + ", ".join(f"{x:.2f}" for x in su["loads_s"])
          + f" s) + gridded write {su['grid_s']:.2f} s + warm-up {su['warmup_s']:.2f} s")
    print(f"  window {res['window_s']:.2f} s")
    for line in latency_lines(records):
        print(line)
    print(f"  requests: attempted {attempted}, errored {len(errored)}, lost to JVM "
          f"death {res['lost']}, oracle-checked {checked}, mismatched {len(mismatches)}"
          f" -> failed_frac {failed / attempted if attempted else 0.0:.4f}")
    for why in (mismatches + [r["err"] for r in errored])[:5]:
        print(f"  failure: {why}")
    print(f"  oracle: {'PASS' if not mismatches else 'FAIL'} ({checked} replies checked)")
    print(f"  jvm peak RSS {res['jvm_peak_rss_kb'] / 1024.0:.0f} MB")

    try:
        if args.trace:
            if "spans" not in res:
                raise NoSamples("the JVM died, so the run has no trace")
            values, lines = per_layer(res, ops)
            units = per_layer_units()
            for line in lines:
                print(line)
        else:
            values, units = end_to_end(res, ops), END_TO_END
    except NoSamples as exc:
        print(f"benchmark: cannot report the metrics: {exc}", file=sys.stderr)
        return 1
    metrics = {}
    for name, unit in units.items():
        v = values[name]
        print(f"  {name} = {v} {unit}")
        metrics[name] = {"value": v, "unit": unit}
    print(json.dumps({"correct": failed == 0 and not res["jvm_died"],
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
