"""Per-layer tracing from Spark's own status stores.

The traced run splits the measured process into named segments. Every
instant belongs to exactly one segment; segments of the same name add up.
Each segment runs under its own ``setJobGroup``. When a segment closes, the
jobs it started are read from the application status store, and the SQL
executions it started from the SQL status store. Both are found by id, not
by group: ids are handed out in submission order, so a segment's are the
ids above the last one seen, even if the program sets job groups itself.

- ``wall_s``      wall time of the segment, harvest time excluded
- ``cpu_s``       executor CPU time of its stages
- ``idle_core_s`` wall x cores - executor run time: per-job overhead,
                  stragglers and driver-side work while cores sit idle
- ``shuffle_mb``  shuffle bytes written by its stages
- ``input_mb``    bytes its stages read from storage
- ``py_s``        "time to run Python workers" of its SQL executions

A stage shared by several jobs is counted once, in the segment that ran it.
The time spent reading the stores is the tracing overhead (``overhead_s``).
"""

from __future__ import annotations

import re
import time
from collections import defaultdict

SPAN_FIELDS = ("wall_s", "cpu_s", "idle_core_s", "shuffle_mb", "input_mb", "py_s")
MB = float(1 << 20)

# SQL metric names of the Python runner (Spark 4.x)
PY_RUN = "time to run Python workers"
PY_BOOT = "time to start Python workers"
PY_SENT = "data sent to Python workers"
_PY = (PY_RUN, PY_BOOT, PY_SENT)

_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 1024.0, "MiB": MB, "GiB": 1024.0 * MB, "TiB": 1024.0 ** 2 * MB}


def parse_metric(text: str | None) -> float:
    """Total of a formatted SQL metric value: ``"total (min, med, max ...)\\n
    4.5 s (1.1 s, ...)"`` -> 4.5, ``"1645.8 KiB (...)"`` -> bytes,
    ``"200,000"`` -> 200000. Times come back in seconds."""
    if not text:
        return 0.0
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


_SEP = "\u0001"
_METRIC = re.compile(r"SQLPlanMetric\((.*),(\d+),\w+\)")
_SCAN_NODE = re.compile(r'label="<b>Scan parquet[^<]*</b>(.*?)" tooltip="([^"]*)"')


class Tracer:
    def __init__(self, spark, cores: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.cores = cores
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._next_job = 0
        self._next_exec = 0
        self._seen_stages: set[int] = set()
        self.spans: dict[str, dict[str, float]] = defaultdict(
            lambda: dict.fromkeys(SPAN_FIELDS, 0.0))
        self.totals: dict[str, float] = defaultdict(float)
        self.overhead_s = 0.0
        self.scan_rows: dict[str, float] = defaultdict(float)  # by scanned path
        self._acc: dict[str, float] = {}
        self._scans: set[tuple[str, str]] = set()
        self.current: str | None = None
        self._t = time.perf_counter()

    def switch(self, name: str | None) -> str | None:
        """Close the current segment and open ``name`` (None: stop tracing).
        Returns the segment that was open."""
        now = time.perf_counter()
        prev = self.current
        if prev is not None:
            self.spans[prev]["wall_s"] += now - self._t
            self._harvest(prev)
        self.current = name
        if name is not None:
            self.sc.setJobGroup(f"perfbench:{name}", name)
        self._t = time.perf_counter()
        self.overhead_s += self._t - now
        return prev

    def wrap(self, module, attr: str, name: str, sticky: bool = False) -> None:
        """Route calls of ``module.attr`` through segment ``name``. A sticky
        segment stays open after the call returns, until the next switch:
        for functions that return a lazy plan whose action the caller runs."""
        fn = getattr(module, attr)
        tracer = self

        def traced(*a, **kw):
            prev = tracer.switch(name)
            try:
                return fn(*a, **kw)
            finally:
                if not sticky:
                    tracer.switch(prev)

        setattr(module, attr, traced)

    # -------------------------------------------------------------- harvest
    def _harvest(self, name: str) -> None:
        self._bus.waitUntilEmpty()
        span = self.spans[name]
        run_ms = 0.0
        tracker = self.sc.statusTracker()
        while True:
            info = tracker.getJobInfo(self._next_job)
            if info is None:
                break
            self._next_job += 1
            self.totals["jobs"] += 1
            for sid in list(info.stageIds):
                if sid in self._seen_stages:
                    continue
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — stage never submitted (skipped)
                    continue
                self._seen_stages.add(sid)
                run_ms += st.executorRunTime()
                span["cpu_s"] += st.executorCpuTime() / 1e9
                span["shuffle_mb"] += st.shuffleWriteBytes() / MB
                span["input_mb"] += st.inputBytes() / MB
                self.totals["spill_mb"] += st.diskBytesSpilled() / MB
                self.totals["failed_tasks"] += st.numFailedTasks()
        span["idle_core_s"] += -run_ms / 1e3
        while True:
            opt = self._sql.execution(self._next_exec)
            if opt.isEmpty():
                break
            self._harvest_sql(self._next_exec, opt.get(), span)
            self._next_exec += 1

    def _harvest_sql(self, eid: int, ex, span: dict) -> None:
        # whole collections cross the py4j bridge as one string each
        jvalues = self._sql.executionMetrics(eid)
        values = dict(kv.split(" -> ", 1) for kv in jvalues.mkString(_SEP).split(_SEP) if kv)
        # a metric can be listed several times (adaptive re-plans, and a
        # cached relation's plan inside every execution that reads it): add
        # only what an accumulator gained since it was last seen
        for key, acc in set(_METRIC.findall(ex.metrics().mkString("\n"))):
            if key not in _PY:
                continue
            v = parse_metric(values.get(acc))
            gain, self._acc[acc] = v - self._acc.get(acc, 0.0), v
            if key == PY_RUN:
                span["py_s"] += gain
            elif key == PY_BOOT:
                self.totals["py_boot_s"] += gain
            else:
                self.totals["arrow_sent_mb"] += gain / MB
        # rows produced by each parquet scan, keyed by the scanned location;
        # a scan node shown again with identical figures is the same scan
        dot = self._sql.planGraph(eid).makeDotFile(jvalues)
        for node in _SCAN_NODE.findall(dot):
            if node in self._scans:
                continue
            self._scans.add(node)
            label, tip = node
            rows = re.search(r"number of output rows: ([\d,]+)", label)
            loc = re.search(r"Location: [^\[]*\[([^\]]*)\]", tip)
            if rows:
                self.scan_rows[loc.group(1) if loc else ""] += float(rows.group(1).replace(",", ""))

    def finish(self) -> None:
        self.switch(None)
        for span in self.spans.values():
            span["idle_core_s"] += span["wall_s"] * self.cores
