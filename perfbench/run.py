#!/usr/bin/env python3
"""Validation-engine benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--size full|tiny]

Run from the root of a checkout. The run:

1. makes the workload's inputs from ``--seed`` (cached on disk, outside the
   clock and outside ``setup_s``);
2. starts ONE fresh measured process (``worker.py``): session start, a fixed
   warm-up, then one timed pass over the inputs;
3. checks the outputs against the generators' ground truth;
4. prints, as its last line, ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics (``setup_s``, ``rows_per_s``);
``--trace 1`` reports the per-layer metrics read from Spark's status stores,
and ``peak_rss_mb``. ``--seconds`` is recorded, not obeyed: the timed pass
is a fixed amount of work sized to take about that long on 4 cores, since
repeating it inside one process would measure a warmer JIT each time.
Everything the run writes stays under ``.perfbench_work/`` in the checkout.
Every process the run starts has ended and been reaped before it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "real_time_anomaly_detection_spark"
TIMEOUT_S = 150  # leaves room for input generation and checks within 180 s

SPANS = (
    "session.start", "warmup",
    "engine.validate", "engine.incremental_validate", "manifest.pending", "manifest.append",
    "write.verdicts", "write.violations",
    *(f"family.{f}" for f in ("column_stats", "uniqueness", "referential", "drift", "audio")),
    *(f"queries.{q}" for q in ("q29", "q40", "q43", "q58", "q64", "q69")),
)


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _become_subreaper() -> None:
    """Adopt every orphaned descendant (the JVM's Python daemon outlives the
    JVM briefly, generator pool helpers outlive their pool), so each one stays
    in this process's tree until it has ended and been reaped here."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _descendants() -> list[int]:
    """Every live or unreaped process below this one."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(os.getpid(), []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _stop_descendants(grace_s: float) -> None:
    """Wait up to ``grace_s`` for every process this run started, directly or
    not, to end; kill what is left; return once all have been reaped."""
    from multiprocessing import resource_tracker

    # the generators' process pools leave multiprocessing's resource tracker
    # running until its pipe from this process closes
    resource_tracker._resource_tracker._stop()
    deadline = time.monotonic() + grace_s
    while True:
        _reap()
        pids = _descendants()
        if not pids:
            return
        if time.monotonic() >= deadline:
            for pid in pids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def _die_with_parent() -> None:
    """In the measured process: be killed if this run is killed outright;
    its JVM exits when its driver's pipe closes."""
    import ctypes

    PR_SET_PDEATHSIG = 1
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_PDEATHSIG, signal.SIGKILL, 0, 0, 0)


def measure(workload: str, inp: str, run_dir: str, cores: int, trace: bool,
            text_inp: str | None) -> dict:
    """Run worker.py in a fresh process group and return its result."""
    env = dict(os.environ)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env.update({
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        # keep the JVMs' scratch files inside the checkout
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), workload, inp, run_dir,
           str(cores), "1" if trace else "0", *([text_inp] if text_inp else [])]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True,
                            preexec_fn=_die_with_parent,
                            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    try:
        log, _ = proc.communicate(timeout=TIMEOUT_S)
    except BaseException as exc:  # timeout, or this process being stopped
        os.killpg(proc.pid, signal.SIGKILL)
        log, _ = proc.communicate()
        _stop_descendants(0.0)
        if isinstance(exc, subprocess.TimeoutExpired):
            raise RuntimeError(f"measured process exceeded {TIMEOUT_S}s:\n{log[-4000:]}")
        raise
    # the JVM and its Python workers outlive the driver briefly
    _stop_descendants(20.0)
    if proc.returncode != 0:
        raise RuntimeError(f"measured process exited {proc.returncode}:\n{log[-4000:]}")
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def layer_metrics(res: dict, extra: dict, rows: int) -> dict[str, tuple[float, str]]:
    spans = res["spans"]
    # per-layer, not end-to-end: with the program's 24g driver memory the
    # JVM heap the collector grows during a pass varies by 20-25 % between
    # runs, wider than any usable regression bound
    out = {"peak_rss_mb": (sum(res["rss_mb_by_process"].values()), "MB")}
    for s in SPANS:
        for field in ("wall_s", "cpu_s", "idle_core_s", "shuffle_mb", "input_mb", "py_s"):
            out[f"{s}.{field}"] = (spans.get(s, {}).get(field, 0.0),
                                   "s" if field.endswith("_s") else "MB")
    out["engine.release.wall_s"] = (spans.get("engine.release", {}).get("wall_s", 0.0), "s")
    run = res["run"]
    out["run.py_boot_s"] = (run["py_boot_s"], "s")
    out["run.spill_mb"] = (run["spill_mb"], "MB")
    out["run.arrow_sent_mb"] = (run["arrow_sent_mb"], "MB")
    out["run.failed_tasks"] = (run["failed_tasks"], "count")
    out["run.jobs"] = (run["jobs"], "count")
    pcm = res.get("ref_pcm", {})
    out["ref_pcm.calls"] = (pcm.get("calls", 0), "count")
    out["ref_pcm.busy_s"] = (pcm.get("busy_s", 0.0), "s")
    # pruning: rows the clips scans produced per pending row (1.0 = exact)
    pending = extra.get("pending_rows")
    scanned = sum(v for k, v in res["scan_rows"].items() if k.rstrip("/").endswith("/clips"))
    out["incremental.rows_read_per_pending_row"] = (scanned / pending if pending else 0.0,
                                                     "ratio")
    out["incremental.spurious_orphan_rows"] = (extra.get("spurious_orphan_rows", 0), "count")
    out["trace.overhead_s"] = (res["trace_overhead_s"], "s")
    out["trace.rows_per_s"] = (rows / res["pass_s"], "1/s")
    return out


def input_rows(workload: str, inp: str, params: dict, extra: dict) -> int:
    """Input rows one timed pass covers."""
    import pyarrow.parquet as pq

    if workload == "validate_audio":
        return pq.ParquetDataset(os.path.join(inp, "clips")).read(columns=["part_id"]).num_rows
    if workload == "incremental_meta":
        return extra["pending_rows"]
    return 6 * params["n_docs"]  # doc-visits: six queries over n_docs-doc corpora


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("validate_audio", "incremental_meta", "text_dedup"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args()
    # stopped from outside: unwind, so every process this run started is killed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "engine.py")):
        _log(f"no {PACKAGE}/ package next to perfbench/: run from a checkout of the repo")
        return 2
    sys.path[:0] = [ROOT, HERE]
    import checks
    import inputs

    cores = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()
    inp = inputs.ensure(WORK, args.workload, args.seed, args.size)
    with open(os.path.join(inp, "params.json")) as f:
        params = json.load(f)
    # the traced incremental_meta run also times the text_dedup kernels
    text_inp = (inputs.ensure(WORK, "text_dedup", args.seed, args.size)
                if args.trace and args.workload == "incremental_meta" else None)
    run_dir = os.path.join(WORK, "runs", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        res = measure(args.workload, inp, run_dir, cores, bool(args.trace), text_inp)
        results, extra = checks.CHECKS[args.workload](inp, run_dir, params)
        if text_inp:
            with open(os.path.join(text_inp, "params.json")) as f:
                text_params = json.load(f)
            text_results, text_extra = checks.check_text_dedup(
                text_inp, os.path.join(run_dir, "text"), text_params)
            results += text_results
            extra.update(text_extra)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    load_end = os.getloadavg()
    rows = input_rows(args.workload, inp, params, extra)

    import pyarrow

    failed = [(n, d) for n, ok, d in results if not ok]
    for n, d in failed:
        _log(f"CHECK FAILED {n}: {d}")
    _log(f"workload={args.workload} seed={args.seed} size={args.size} trace={args.trace} "
         f"seconds={args.seconds} nproc={os.cpu_count()} cores={cores} "
         f"master={res['versions']['master']} spark={res['versions']['spark']} "
         f"pyarrow={pyarrow.__version__} loadavg_start={load_start[0]:.2f} "
         f"loadavg_pass_start={res['loadavg_pass_start']:.2f} loadavg_end={load_end[0]:.2f} "
         f"rows={rows} pass_s={res['pass_s']:.3f} process_s={res['process_s']:.1f} "
         "rss_mb=" + ",".join(f"{k}:{v:.0f}" for k, v in res["rss_mb_by_process"].items()))
    if "spurious_orphan_rows" in extra:
        # a known engine defect, reported on every run (see checks.py)
        print(f"spurious_orphan_rows={extra['spurious_orphan_rows']}", flush=True)
    if "drift_false_alarms" in extra:
        _log(f"drift_false_alarms={extra['drift_false_alarms']}")
    if "digests" in extra:
        _log("digests " + json.dumps(extra["digests"], sort_keys=True))

    if args.trace:
        metrics = layer_metrics(res, extra, rows)
    else:
        metrics = {
            "setup_s": (res["setup_s"], "s"),
            "rows_per_s": (rows / res["pass_s"], "1/s"),
        }
    print(json.dumps({
        "correct": not failed,
        "attempted": len(results),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


def run() -> int:
    """``main`` with every descendant process stopped and reaped before exit,
    on every path out of it."""
    _become_subreaper()
    try:
        return main()
    except BaseException:
        _stop_descendants(0.0)
        raise
    finally:
        _stop_descendants(20.0)


if __name__ == "__main__":
    sys.exit(run())
