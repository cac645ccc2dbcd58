"""The measured process: one fresh Python driver (and its JVM) per run.

Session start, a fixed warm-up, then ONE timed pass; repeated passes in one
process get faster as the JIT and heap warm up, so there are none. Writes
``result.json`` into the run directory; the parent checks the outputs.

The traced run of ``incremental_meta`` also times the six text kernels of
``text_dedup`` after its pass, on that workload's corpora, so their layers
are measured without a workload of their own.

Usage (the parent ``run.py`` starts it; not meant to be run by hand):
    python perfbench/worker.py <workload> <input_dir> <run_dir> <cores> <trace 0|1>
                               [<text_dedup input_dir>]
"""

from __future__ import annotations

import json
import os
import sys
import time

T_PROCESS = time.perf_counter()

QUERIES = (  # (segment, query function, corpus)
    ("queries.q29", "q29_minhash_lsh", "neardup"),
    ("queries.q40", "q40_simhash_hamming", "neardup"),
    ("queries.q43", "q43_winnowing_neardup", "neardup"),
    ("queries.q58", "q58_vocab_df_stats", "neardup"),
    ("queries.q64", "q64_dup_span_stats", "spans"),
    ("queries.q69", "q69_containment_join", "zipf"),
)
FAMILIES = ("column_stats", "uniqueness", "referential", "drift", "audio")


def _proc_tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def reset_peak_rss() -> None:
    """Restart VmHWM of this driver, its JVM and its Python workers from
    their current RSS, so the peak read after the pass is the pass's own."""
    for pid in _proc_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass  # a worker that exited meanwhile


def peak_rss_mb() -> dict[str, float]:
    """VmHWM in MB of this driver, its JVM and the JVM's Python workers, by
    process name; the metric is their sum."""
    out: dict[str, float] = {}
    for pid in _proc_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue  # a worker that exited between the scan and the read
        if "VmHWM" in fields:
            name = fields["Name"].strip()
            out[name] = out.get(name, 0.0) + int(fields["VmHWM"].split()[0]) / 1024.0
    return out


class Run:
    """One workload's set-up, warm-up and timed pass inside this process."""

    def __init__(self, workload: str, inp: str, out: str, cores: int, trace: bool,
                 text_inp: str | None = None):
        self.workload, self.inp, self.out = workload, inp, out
        self.text_inp = text_inp
        self.cores, self.trace = cores, trace
        with open(os.path.join(inp, "params.json")) as f:
            self.params = json.load(f)
        self.fixed = self.params["fixed"]  # warm-up tables, drift reference
        self.tracer = None
        self.warming = False
        self.result: dict = {}

    def seg(self, name: str | None) -> None:
        """Open segment ``name``; the warm-up is one segment throughout."""
        if self.tracer is not None and not self.warming:
            self.tracer.switch(name)

    def _path(self, *p: str) -> str:
        return os.path.join(self.out, *p)

    # ------------------------------------------------------------- lifecycle
    def main(self) -> dict:
        t0 = time.perf_counter()
        from real_time_anomaly_detection_spark.session import get_spark

        self.spark = get_spark(
            "perfbench", cores=self.cores,
            # full scan locations in plan descriptions (the tracer keys scan
            # rows by path); neither setting changes what runs
            extra={"spark.ui.showConsoleProgress": "false",
                   "spark.sql.maxMetadataStringLength": "4096"},
        )
        t1 = time.perf_counter()
        if self.trace:
            from tracing import Tracer

            self.tracer = Tracer(self.spark, self.cores)
            self.tracer.spans["session.start"]["wall_s"] = t1 - t0
        self.seg("warmup")
        self.warming = True
        getattr(self, f"warm_{self.workload}")()
        self.warming = False
        self.seg("prep")
        self.result["setup_s"] = time.perf_counter() - T_PROCESS
        getattr(self, f"prep_{self.workload}")()
        # The JVM's heap after the warm-up varies by GBs from run to run with
        # the collector's sizing decisions; a full collection and a reset
        # high-water mark make the peak the pass's own.
        self.spark._jvm.System.gc()
        self.result["loadavg_pass_start"] = os.getloadavg()[0]
        pass_fn = getattr(self, f"pass_{self.workload}")
        self.seg("pass")  # closes "prep", so the mark below excludes its jobs
        mark = self._totals()
        reset_peak_rss()
        t = time.perf_counter()
        pass_fn()
        self.seg("post")
        self.result["pass_s"] = time.perf_counter() - t
        self.result["rss_mb_by_process"] = peak_rss_mb()
        if self.tracer is not None:
            self._trace_pass_totals(mark)
            if self.workload == "validate_audio":
                self.family_runs()
            if self.text_inp:
                self.query_runs()
            self.tracer.finish()
            self.result["spans"] = {k: v for k, v in self.tracer.spans.items()
                                    if k not in ("prep", "pass", "post")}
        self.result["versions"] = {"spark": self.spark.version,
                                   "master": self.spark.sparkContext.master}
        self.spark.stop()
        return self.result

    def _totals(self) -> dict:
        if self.tracer is None:
            return {}
        return {**self.tracer.totals, "overhead_s": self.tracer.overhead_s,
                "scan_rows": dict(self.tracer.scan_rows)}

    def _trace_pass_totals(self, mark: dict) -> None:
        tot = self.tracer.totals
        self.result["run"] = {
            "py_boot_s": tot["py_boot_s"],  # the whole process: mostly warm-up
            **{k: tot[k] - mark.get(k, 0.0)
               for k in ("spill_mb", "failed_tasks", "jobs", "arrow_sent_mb")},
        }
        self.result["trace_overhead_s"] = self.tracer.overhead_s - mark["overhead_s"]
        self.result["scan_rows"] = {k: v - mark["scan_rows"].get(k, 0.0)
                                    for k, v in self.tracer.scan_rows.items()}

    # ---------------------------------------------------------------- shared
    def _write(self, df, name: str) -> None:
        df.write.mode("overwrite").parquet(self._path(name))

    def _validate_outputs(self, verdicts, violations, run_id: str, prefix: str) -> None:
        from real_time_anomaly_detection_spark import engine

        self.seg("write.verdicts")
        self._write(verdicts, f"{prefix}verdicts")
        self.seg("write.violations")
        self._write(violations, f"{prefix}violations")
        self.seg("engine.release")
        engine.release(run_id)

    def _baseline(self) -> list[dict]:
        from real_time_anomaly_detection_spark.operators import drift

        return drift.make_baseline(
            self.spark.read.parquet(os.path.join(self.fixed, "drift_ref.parquet")),
            ("dur_ms", "sr_hz"))

    # -------------------------------------------------------- validate_audio
    def _ref_pcm_fn(self, cfg_args: tuple, counted: bool):
        """The reference-PCM oracle; counted, it also times itself through
        accumulators (traced run only)."""
        import inputs
        from real_time_anomaly_detection_spark import synth

        cfg = inputs.golden(*cfg_args)
        if not counted:
            return lambda cid: synth.reference_pcm(cfg, cid)
        calls = self.spark.sparkContext.accumulator(0)
        busy = self.spark.sparkContext.accumulator(0.0)
        self._pcm_acc = (calls, busy)

        def ref_pcm(cid):
            t = time.perf_counter()
            x = synth.reference_pcm(cfg, cid)
            busy.add(time.perf_counter() - t)
            calls.add(1)
            return x

        return ref_pcm

    def _golden_inputs(self, d: str, cfg_args: tuple, counted: bool) -> tuple:
        clips = self.spark.read.parquet(os.path.join(d, "clips"))
        refs = self.spark.read.parquet(os.path.join(d, "refs.parquet"))
        return clips, refs, self._ref_pcm_fn(cfg_args, counted)

    def _golden_pass(self, clips, refs, fn, run_id: str, prefix: str) -> None:
        from real_time_anomaly_detection_spark import engine

        self.seg("engine.validate")
        verdicts, violations = engine.validate(
            self.spark, clips, refs=refs, baseline_rows=self.baseline, ref_pcm_fn=fn,
            run_id=run_id, manifest_path=self._path(f"{prefix}manifest"),
        )
        self._validate_outputs(verdicts, violations, run_id, prefix)

    def warm_validate_audio(self) -> None:
        import inputs

        self.baseline = self._baseline()
        warm = os.path.join(self.fixed, "warm")
        cfg_args = (inputs.FIXED_SEED, self.params["warm_clips"], 10)
        self._golden_pass(*self._golden_inputs(warm, cfg_args, False), "warm", "warm_")

    def prep_validate_audio(self) -> None:
        from real_time_anomaly_detection_spark import manifest

        p = self.params
        self._va = self._golden_inputs(self.inp, (p["seed"], p["n_clips"], p["n_parts"]),
                                       counted=self.trace)
        if self.tracer is not None:
            self.tracer.wrap(manifest, "append_manifest", "manifest.append")

    def pass_validate_audio(self) -> None:
        self._golden_pass(*self._va, "bench", "")
        if self.trace:
            calls, busy = self._pcm_acc
            self.result["ref_pcm"] = {"calls": calls.value, "busy_s": busy.value}

    def family_runs(self) -> None:
        """Traced run only: each default family alone, outputs to the noop sink."""
        from real_time_anomaly_detection_spark import engine

        clips, refs, fn = self._va
        for fam in FAMILIES:
            self.seg(f"family.{fam}")
            v, viol = engine.validate(
                self.spark, clips, refs=refs, baseline_rows=self.baseline, ref_pcm_fn=fn,
                cfg=engine.ValidationConfig(checks=(fam,)), run_id=f"family-{fam}",
            )
            for df in (v, viol):
                df.write.format("noop").mode("overwrite").save()
            engine.release(f"family-{fam}")
        self.seg("post")

    # ------------------------------------------------------ incremental_meta
    def _seed_manifest(self, d: str, seeded_parts: int, run_id: str, prefix: str) -> tuple:
        """The program seeds its own manifest: the first partitions are
        validated. Returns the timed pass's inputs."""
        from pyspark.sql import functions as F

        from real_time_anomaly_detection_spark import engine

        clips = self.spark.read.parquet(os.path.join(d, "clips"))
        refs = self.spark.read.parquet(os.path.join(d, "refs.parquet"))
        man = self._path(f"{prefix}manifest")
        engine.validate(self.spark, clips.filter(F.col("part_id") < seeded_parts), refs=refs,
                        baseline_rows=self.baseline, run_id=f"{run_id}-seed", manifest_path=man)
        engine.release(f"{run_id}-seed")
        return clips, refs, man, run_id, prefix

    def _incremental_pass(self, clips, refs, man: str, run_id: str, prefix: str) -> None:
        from real_time_anomaly_detection_spark import engine

        self.seg("engine.incremental_validate")
        verdicts, violations = engine.incremental_validate(
            self.spark, clips, man, refs=refs, baseline_rows=self.baseline, run_id=run_id)
        self._validate_outputs(verdicts, violations, run_id, prefix)

    def warm_incremental_meta(self) -> None:
        # an incremental pass over a small table with an empty manifest
        self.baseline = self._baseline()
        warm = os.path.join(self.fixed, "warm")
        self._incremental_pass(self.spark.read.parquet(os.path.join(warm, "clips")),
                               self.spark.read.parquet(os.path.join(warm, "refs.parquet")),
                               self._path("warm_manifest"), "warm", "warm_")

    def prep_incremental_meta(self) -> None:
        from real_time_anomaly_detection_spark import engine, manifest

        self._inc = self._seed_manifest(self.inp, self.params["seeded_parts"], "bench", "")
        if self.tracer is not None:
            self.tracer.wrap(manifest, "read_manifest", "manifest.pending", sticky=True)
            self.tracer.wrap(manifest, "pending_partitions", "manifest.pending", sticky=True)
            self.tracer.wrap(manifest, "append_manifest", "manifest.append")
            self.tracer.wrap(engine, "validate", "engine.incremental_validate", sticky=True)

    def pass_incremental_meta(self) -> None:
        self._incremental_pass(*self._inc)

    # ------------------------------------------------------------ text_dedup
    def _queries(self, d: str, prefix: str) -> None:
        from real_time_anomaly_detection_spark import queries
        from real_time_anomaly_detection_spark.caching import release_cached

        for seg, fn, corpus in QUERIES:
            self.seg(seg)
            self._write(getattr(queries, fn)(self.spark, os.path.join(d, corpus)),
                        f"{prefix}{fn}")
            release_cached()

    def warm_text_dedup(self) -> None:
        self._queries(os.path.join(self.fixed, "warm"), "warm_")

    def query_runs(self) -> None:
        """Traced run only: the text_dedup warm-up and pass, outputs under
        ``text/`` for the parent's checks."""
        with open(os.path.join(self.text_inp, "params.json")) as f:
            fixed = json.load(f)["fixed"]
        self.warming = True
        self._queries(os.path.join(fixed, "warm"), "text/warm_")
        self.warming = False
        self._queries(self.text_inp, "text/")
        self.seg("post")

    def prep_text_dedup(self) -> None:
        pass

    def pass_text_dedup(self) -> None:
        self._queries(self.inp, "")


def main() -> None:
    workload, inp, out, cores, trace = sys.argv[1:6]
    res = Run(workload, inp, out, int(cores), trace == "1", *sys.argv[6:7]).main()
    res["process_s"] = time.perf_counter() - T_PROCESS
    with open(os.path.join(out, "result.json"), "w") as f:
        json.dump(res, f)


if __name__ == "__main__":
    main()
