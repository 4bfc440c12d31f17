"""Span recorder and Spark job-group counters for the traced run.

The recorder is installed from outside the program: it replaces public
functions of the program's modules (and public methods of the `GeoManager`
facade) with wrappers that record a span — name, start, end, parent span and
request id — around each call. Spans stay in memory and are written out when
the run ends. Nothing in the program changes.

Lazy DataFrame builders return before any Spark job runs, so their spans
measure plan construction; the execution lands in the span of the caller that
collects (the facade). The worker therefore also times each layer's pipeline
collected on its own after the measuring window (see worker.py), and counts
Spark jobs, stages and tasks per request through job groups.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time

#: public functions wrapped per layer: the ones the workloads reach
LAYERS = {
    "session": ("yat_geo_db_spark.session", ("get_spark",)),
    "ingest": ("yat_geo_db_spark.geo.ingest",
               ("fetch_shape_files", "ingest_shapes_json", "read_shapes",
                "write_shapes", "normalize_shapes")),
    "fuzzy": ("yat_geo_db_spark.geo.fuzzy",
              ("fuzzy_search", "best_fuzzy_search", "build_postings")),
    "radius": ("yat_geo_db_spark.geo.radius",
               ("radius_search", "radius_search_lat_lng", "pair_distances",
                "radius_join", "origin_df")),
    "lookup": ("yat_geo_db_spark.geo.lookup",
               ("shape_by_ref_code", "shape_by_id", "shape_local_time",
                "num_shapes")),
    "grid": ("yat_geo_db_spark.geo.grid",
             ("write_gridded_shapes", "read_gridded_shapes",
              "radius_join_gridded")),
}

#: facade methods wrapped as the `manager` layer
MANAGER_METHODS = (
    "load_data", "fuzzy_search", "best_fuzzy_search",
    "radius_search", "radius_search_lat_lng", "radius_lat_lng_search",
    "get_shape_by_ref_code", "get_shape_by_id", "get_shape_pair_distance",
    "get_shape_time_by_ref_code",
)


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []  # (id, name, start, end, parent, req)
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()

    # ------------------------------------------------------------ context

    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def set_request(self, req) -> None:
        """Tag spans opened by this thread with request id `req`."""
        self._tls.req = req

    def current_request(self):
        return getattr(self._tls, "req", None)

    def span(self, name: str):
        return _Span(self, name)

    def _record(self, sid, name, start, end, parent, req) -> None:
        with self._lock:
            self.spans.append((sid, name, start, end, parent, req))

    # ------------------------------------------------------------ install

    def wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with _Span(tracer, name):
                return fn(*args, **kwargs)

        traced.__wrapped_by_tracer__ = True
        return traced

    def install(self) -> None:
        """Wrap every layer's public functions and the facade's methods."""
        import importlib

        for layer, (modname, names) in LAYERS.items():
            mod = importlib.import_module(modname)
            for n in names:
                fn = getattr(mod, n)
                if not getattr(fn, "__wrapped_by_tracer__", False):
                    setattr(mod, n, self.wrap(fn, f"{layer}.{n}"))
        from yat_geo_db_spark.manager import GeoManager

        for n in MANAGER_METHODS:
            fn = getattr(GeoManager, n)
            if not getattr(fn, "__wrapped_by_tracer__", False):
                setattr(GeoManager, n, self.wrap(fn, f"manager.{n}"))

    def wrapper_cost_s(self, calls: int = 20_000) -> float:
        """Per-call cost of one wrapper (a traced no-op minus a bare one)."""
        probe = Tracer()

        def noop():
            return None

        traced = probe.wrap(noop, "noop")
        t0 = time.perf_counter()
        for _ in range(calls):
            noop()
        t1 = time.perf_counter()
        for _ in range(calls):
            traced()
        t2 = time.perf_counter()
        return max((t2 - t1) - (t1 - t0), 0.0) / calls

    # ----------------------------------------------------------- analysis

    def self_times(self) -> dict:
        """Self time per span id: its duration minus the part of it that
        its child spans cover."""
        children: dict = {}
        for s in self.spans:
            children.setdefault(s[4], []).append(s)
        out = {}
        for sid, _name, start, end, _parent, _req in self.spans:
            covered, cur = 0.0, start
            for c in sorted(children.get(sid, ()), key=lambda c: c[2]):
                lo, hi = max(c[2], cur), min(c[3], end)
                if hi > lo:
                    covered += hi - lo
                    cur = hi
            out[sid] = (end - start) - covered
        return out


class _Span:
    __slots__ = ("tracer", "name", "sid", "start", "parent")

    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        st = self.tracer._stack()
        self.parent = st[-1] if st else None
        self.sid = next(self.tracer._ids)
        st.append(self.sid)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        self.tracer._stack().pop()
        self.tracer._record(self.sid, self.name, self.start, end, self.parent,
                            self.tracer.current_request())
        return False


def job_group_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under job group `group`, from the
    status tracker. Stages skipped because their shuffle output was reused
    still belong to the job and are counted."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages, tasks = set(), 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            if s in stages:
                continue
            stages.add(s)
            si = st.getStageInfo(s)
            tasks += si.numTasks if si is not None else 0
    return len(jobs), len(stages), tasks
