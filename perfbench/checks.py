"""Correctness checks on a run's outputs, against the generators' ground truth.

Each check is one operation of the run: a partition's verdicts and
violations, or one query's result. ``check(...)`` returns a list of
``(name, ok, detail)``; a failed check counts as a failed operation.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
from collections import Counter
from dataclasses import replace
from itertools import combinations

import pyarrow.parquet as pq

import inputs

# The planted-defect roles of the golden fixture on partitions 0-9, as the
# engine's golden tests state them; partitions 10-19 are clean.
GOLDEN_ROLES = {
    0: {"uniqueness": "pass", "drift:dur_ms": "pass", "pcm_check": "pass",
        "column_stats:sr_hz": "pass", "column_stats:dur_ms": "pass"},
    1: {"uniqueness": "fail"},
    2: {"column_stats:sr_hz": "fail"},
    3: {"column_stats:dur_ms": "fail"},
    4: {"column_stats:dur_ms": "fail"},
    5: {"drift:dur_ms": "fail"},
    6: {"pcm_check": "fail"},
    7: {"transcript_check": "fail"},
    8: {"column_stats:dur_ms": "insufficient_data", "drift:dur_ms": "insufficient_data"},
    9: {"drift:sr_hz": "pass", "column_stats:sr_hz": "pass", "column_stats:dur_ms": "pass"},
}
AUDIO_CONSTRAINTS = ("column_stats:sr_hz", "column_stats:dur_ms", "uniqueness", "referential",
                     "drift:sr_hz", "drift:dur_ms", "pcm_check", "transcript_check")
META_CONSTRAINTS = AUDIO_CONSTRAINTS[:6]
MAX_DRIFT_FALSE_ALARMS = 1

PINNED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pinned_digests.json")


def _rows(path: str, columns=None) -> list[dict]:
    return pq.read_table(path, columns=columns).to_pylist()


def _verdicts_by_part(run: str) -> dict[int, dict[str, list[str]]]:
    out: dict[int, dict[str, list[str]]] = {}
    for r in _rows(os.path.join(run, "verdicts"), ["part_id", "constraint", "status"]):
        out.setdefault(r["part_id"], {}).setdefault(r["constraint"], []).append(r["status"])
    return out


def _violations(run: str) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for r in _rows(os.path.join(run, "violations"),
                   ["part_id", "constraint", "clip_id", "observed"]):
        out.setdefault(r["constraint"], []).append(r)
    return out


def _dups(ids, parts) -> Counter:
    """(part, clip_id) -> copies, for keys present more than once."""
    c = Counter(zip(parts, ids))
    return Counter({k: n for k, n in c.items() if n > 1})


def _part_report(checks, name, problems) -> None:
    checks.append((name, not problems, "; ".join(problems[:3])))


# ------------------------------------------------------------- validate_audio

def check_validate_audio(inp: str, run: str, params: dict) -> tuple[list, dict]:
    from real_time_anomaly_detection_spark import synth

    cfg = inputs.golden(params["seed"], params["n_clips"], params["n_parts"])
    clips = pq.read_table(os.path.join(inp, "clips"),
                          columns=["clip_id", "part_id", "transcript"]).to_pydict()
    ref_ids = set(pq.read_table(os.path.join(inp, "refs.parquet"), columns=["clip_id"])
                  .column("clip_id").to_pylist())
    clip_ids = set(clips["clip_id"])
    verdicts = _verdicts_by_part(run)
    viol = _violations(run)

    # ground truth from the generated rows
    dups = _dups(clips["clip_id"], clips["part_id"])
    missing = Counter((p, c) for c, p in zip(clips["clip_id"], clips["part_id"])
                      if c not in ref_ids)
    mismatch = {c for c, t in zip(clips["clip_id"], clips["transcript"])
                if t.endswith(" corrupted") and c in ref_ids}
    cpp = cfg.clips_per_partition
    part6 = synth.clips_pdf(replace(cfg, corrupt_pcm_rate={}), 6 * cpp, 7 * cpp)
    got6 = pq.read_table(os.path.join(inp, "clips", "part-00006.parquet"),
                         columns=["clip_id", "bytes"]).to_pydict()
    clean6 = dict(zip(part6.clip_id, part6.bytes))
    corrupt = {c for c, b in zip(got6["clip_id"], got6["bytes"]) if clean6[c] != b}

    got_dups = Counter({(r["part_id"], r["clip_id"]): int(r["observed"])
                        for r in viol.get("uniqueness", [])})
    got_missing = Counter((r["part_id"], r["clip_id"]) for r in viol.get("referential", [])
                          if r["observed"] == "no_reference_row")
    got_pcm = {(r["part_id"], r["clip_id"]) for r in viol.get("pcm_check", [])}
    got_tr = {(r["part_id"], r["clip_id"]) for r in viol.get("transcript_check", [])}
    part_of = dict(zip(clips["clip_id"], clips["part_id"]))

    checks, false_alarms = [], []
    for p in range(params["n_parts"]):
        problems = []
        v = verdicts.get(p, {})
        for c in AUDIO_CONSTRAINTS:
            if len(v.get(c, [])) != 1:
                problems.append(f"{c}: {len(v.get(c, []))} verdicts")
        status = {c: s[0] for c, s in v.items() if len(s) == 1}
        want = dict(GOLDEN_ROLES.get(p, {c: "pass" for c in AUDIO_CONSTRAINTS}))
        want["referential"] = "fail" if any(k[0] == p for k in missing) else "pass"
        for c, s in want.items():
            if status.get(c) == s:
                continue
            if c.startswith("drift:") and (s, status.get(c)) == ("pass", "fail"):
                false_alarms.append(f"{p}/{c}")
                continue
            problems.append(f"{c}={status.get(c)} want {s}")
        for label, got, exp in (
            ("uniqueness", _only(got_dups, p), _only(dups, p)),
            ("missing refs", _only(got_missing, p), _only(missing, p)),
            ("pcm", {k for k in got_pcm if k[0] == p},
             {(p, c) for c in corrupt if part_of[c] == p}),
            ("transcript", {k for k in got_tr if k[0] == p},
             {(p, c) for c in mismatch if part_of[c] == p}),
        ):
            if got != exp:
                problems.append(f"{label} violations {len(got)} want {len(exp)}")
        _part_report(checks, f"partition {p}", problems)

    orphans = {r["clip_id"] for r in viol.get("referential", [])
               if r["observed"] == "orphan_reference"}
    want_orphans = ref_ids - clip_ids
    _part_report(checks, "orphan refs",
                 [] if orphans == want_orphans else [f"{len(orphans)} want {len(want_orphans)}"])
    man = _rows(os.path.join(run, "manifest"), ["run_id", "part_id"])
    n_verdicts = sum(len(s) for v in verdicts.values() for s in v.values())
    _part_report(checks, "manifest",
                 [] if len(man) == n_verdicts and {r["run_id"] for r in man} == {"bench"}
                 else [f"{len(man)} manifest rows for {n_verdicts} verdicts"])
    # Drift is a statistical test: on a clean 400-row partition against an
    # independent 4,000-row reference, PSI crosses its 0.25 threshold about
    # once in 250 partition-checks (measured over 15 seeds). One such false
    # alarm per run is tolerated and reported; more fail the run.
    _part_report(checks, "drift false alarms",
                 [] if len(false_alarms) <= MAX_DRIFT_FALSE_ALARMS else false_alarms)
    return checks, {"drift_false_alarms": false_alarms}


def _only(counter, p) -> Counter:
    return Counter({k: n for k, n in counter.items() if k[0] == p})


# ----------------------------------------------------------- incremental_meta

def check_incremental_meta(inp: str, run: str, params: dict) -> tuple[list, dict]:
    with open(os.path.join(inp, "truth.json")) as f:
        truth = json.load(f)
    per, seeded = truth["per"], params["seeded_parts"]
    clips = pq.read_table(os.path.join(inp, "clips"), columns=["clip_id", "part_id"]).to_pydict()
    dups = _dups(clips["clip_id"], clips["part_id"])
    missing_ids = {inputs.clip_id(i) for i in truth["missing"]}
    missing = Counter((p, c) for c, p in zip(clips["clip_id"], clips["part_id"])
                      if c in missing_ids)
    verdicts = _verdicts_by_part(run)
    viol = _violations(run)
    got_dups = Counter({(r["part_id"], r["clip_id"]): int(r["observed"])
                        for r in viol.get("uniqueness", [])})
    got_missing = Counter((r["part_id"], r["clip_id"]) for r in viol.get("referential", [])
                          if r["observed"] == "no_reference_row")
    pending = set(range(seeded, params["n_parts"]))

    checks = []
    extra = sorted(set(verdicts) - pending)
    _part_report(checks, "only pending partitions validated",
                 [f"verdicts for validated partitions {extra[:5]}"] if extra else [])
    for p in sorted(pending):
        problems = []
        v = verdicts.get(p, {})
        for c in META_CONSTRAINTS:
            if len(v.get(c, [])) != 1:
                problems.append(f"{c}: {len(v.get(c, []))} verdicts")
        exp_d, exp_m = _only(dups, p), _only(missing, p)
        if _only(got_dups, p) != exp_d:
            problems.append(f"uniqueness violations {len(_only(got_dups, p))} want {len(exp_d)}")
        if _only(got_missing, p) != exp_m:
            problems.append(f"missing-ref violations {len(_only(got_missing, p))} "
                            f"want {len(exp_m)}")
        for c, bad in (("uniqueness", exp_d), ("referential", exp_m)):
            want = "fail" if bad else "pass"
            if v.get(c, [None])[0] != want:
                problems.append(f"{c}={v.get(c, [None])[0]} want {want}")
        _part_report(checks, f"partition {p}", problems)

    # orphans: the planted true orphans must be found. Refs of partitions
    # validated before this pass also come out as orphans, because the
    # anti-join runs the whole refs table against the pending clips only --
    # a known engine defect, reported as spurious_orphan_rows, not hidden.
    orphans = [r["clip_id"] for r in viol.get("referential", [])
               if r["observed"] == "orphan_reference"]
    true_orphans = {inputs.clip_id(i) for i in truth["orphans"]}
    validated = {c for c, p in zip(clips["clip_id"], clips["part_id"]) if p < seeded}
    spurious = [c for c in orphans if c in validated]
    wrong = [c for c in orphans if c not in validated and c not in true_orphans]
    _part_report(checks, "true orphans found",
                 ([f"{len(true_orphans - set(orphans))} planted orphans missed"]
                  if not true_orphans <= set(orphans) else [])
                 + ([f"{len(wrong)} orphan rows for pending clips"] if wrong else []))
    man = _rows(os.path.join(run, "manifest"), ["run_id", "part_id"])
    bench_parts = Counter(r["part_id"] for r in man if r["run_id"] == "bench")
    _part_report(checks, "manifest",
                 [] if set(bench_parts) == pending
                 and set(bench_parts.values()) == {len(META_CONSTRAINTS)}
                 else [f"manifest covers {len(bench_parts)} partitions"])
    return checks, {"spurious_orphan_rows": len(spurious),
                    "pending_rows": len(pending) * per}


# ----------------------------------------------------------------- text_dedup

def _pairs(path: str, a: str, b: str) -> set:
    t = pq.read_table(path, columns=[a, b]).to_pydict()
    return set(zip(t[a], t[b]))


def digest(path: str) -> str:
    """Order-independent digest of a query result: sorted rows, floats at 6 dp."""
    rows = pq.read_table(path).to_pylist()
    lines = sorted(json.dumps({k: round(v, 6) if isinstance(v, float) else v
                               for k, v in r.items()}, sort_keys=True) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def check_text_dedup(inp: str, run: str, params: dict) -> tuple[list, dict]:
    n = params["n_docs"]
    with open(os.path.join(inp, "truth.json")) as f:
        truth = json.load(f)
    clusters = n // 200
    k = inputs.DOCS_PER_CLUSTER
    cluster_pairs = {(a, b) for c in range(clusters)
                     for a, b in combinations(range(c * k, c * k + k), 2)}
    # whole-doc copies: in the spans corpus from doc 1 on, in the near-dup
    # corpus only after the clusters
    span_copies = {(d - 1, d) for d in range(1, n) if d % inputs.EXACT_DUP_EVERY == 1}
    exact_pairs = {p for p in span_copies if p[0] >= clusters * inputs.DOCS_PER_CLUSTER}
    out = lambda q: os.path.join(run, q)  # noqa: E731
    checks = []

    def recall(got, want):
        return len(got & want) / max(len(want), 1)

    q29 = _pairs(out("q29_minhash_lsh"), "doc_a", "doc_b")
    r = recall(q29, cluster_pairs | exact_pairs)
    _part_report(checks, "q29", [] if r >= 0.95 else [f"planted-pair recall {r:.3f}"])

    t40 = pq.read_table(out("q40_simhash_hamming")).to_pydict()
    q40 = set(zip(t40["doc_a"], t40["doc_b"]))
    problems = [] if exact_pairs <= q40 else ["exact duplicates missed"]
    if any(h > 3 for h in t40["hamming"]):
        problems.append("pair beyond Hamming 3")
    _part_report(checks, "q40", problems)

    q43 = _pairs(out("q43_winnowing_neardup"), "doc_a", "doc_b")
    r = recall(q43, cluster_pairs | exact_pairs)
    _part_report(checks, "q43", [] if r >= 0.95 else [f"planted-pair recall {r:.3f}"])

    texts = pq.read_table(os.path.join(inp, "neardup", "documents.parquet"),
                          columns=["text"]).column("text").to_pylist()
    df, cf = Counter(), Counter()
    for t in texts:
        toks = re.findall("[a-z]+", t.lower())
        cf.update(toks)
        df.update(set(toks))
    top = sorted(df, key=lambda w: (-df[w], w))[:100]
    got = pq.read_table(out("q58_vocab_df_stats")).to_pylist()
    problems = []
    if [g["term"] for g in got] and sorted(g["term"] for g in got) != sorted(top):
        problems.append("top terms differ")
    if any(g["df"] != df[g["term"]] or g["cf"] != cf[g["term"]] for g in got):
        problems.append("df/cf differ")
    _part_report(checks, "q58", problems if got else ["empty result"])

    t64 = pq.read_table(out("q64_dup_span_stats")).to_pydict()
    dup_spans = dict(zip(t64["doc_id"], t64["n_dup_spans"]))
    frac = dict(zip(t64["doc_id"], t64["dup_token_frac"]))
    problems = []
    if any(dup_spans.get(d, 0) == 0 for d in truth["passage_carriers"]):
        problems.append("planted passage missed")
    if any(frac.get(d) != 1.0 for p in span_copies for d in p):
        problems.append("exact duplicate not fully covered")
    _part_report(checks, "q64", problems)

    t69 = pq.read_table(out("q69_containment_join")).to_pydict()
    q69 = {(a, b) for a, b, c in zip(t69["doc_inner"], t69["doc_outer"], t69["containment"])
           if c == 1.0}
    excerpts = {(d, d - 1) for d in range(1, n) if d % inputs.EXCERPT_EVERY == 1}
    _part_report(checks, "q69", [] if excerpts <= q69
                 else [f"{len(excerpts - q69)} planted excerpts missed"])

    # result digests pinned at the seed commit for this size and seed
    with open(PINNED) as f:
        pinned = json.load(f).get(f"{params['size']}:{params['seed']}", {})
    digests = {q: digest(out(q)) for q in sorted(os.listdir(run))
               if q.startswith("q") and os.path.isdir(out(q))}
    for q, want in pinned.items():
        _part_report(checks, f"{q} digest",
                     [] if digests.get(q) == want else [f"{digests.get(q)} != pinned {want}"])
    return checks, {"digests": digests}


CHECKS = {
    "validate_audio": check_validate_audio,
    "incremental_meta": check_incremental_meta,
    "text_dedup": check_text_dedup,
}
