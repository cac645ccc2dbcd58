"""Seeded inputs for the three workloads, cached on disk.

Every generator is a pure function of (seed, size). A generated input lives
under ``<work>/inputs/<name>-<key>/`` where the key hashes the workload, the
seed, the size and the source of every module that shapes the rows (this
file and the program's ``synth``/``codecs``), so a changed generator never
reuses a stale cache. Generation happens in the parent process, before the
measured process starts, so it is outside both ``setup_s`` and the clock.

Layouts:

- ``validate_audio``: the ``synth.golden_config`` fixture (planted defects on
  partitions 0-9, partitions 10-19 clean) scaled to ``n_clips`` in 20
  partitions, plus its refs table, a clean drift reference and a small
  golden warm-up table.
- ``incremental_meta``: ``n_rows`` clips in ``n_parts`` partitions with empty
  payloads, the synth duration/rate/codec mix, 0.1 % planted duplicate ids,
  0.1 % missing refs and a few true orphan refs.
- ``text_dedup``: three document corpora (near-dup clusters, shared spans,
  Zipf vocabulary with contained excerpts), each in ``<dir>/documents.parquet``.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import shutil
from concurrent.futures import ProcessPoolExecutor
from dataclasses import replace
from multiprocessing import get_context

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes per workload. "full" is the benchmark; "tiny" is the smoke mode. Each
# full size keeps one untraced run (generation, set-up, warm-up, timed pass,
# checks) near 50 s on 4 cores. text_dedup's inputs also feed the traced
# incremental_meta run.
SIZES = {
    "full": {
        "validate_audio": {"n_clips": 12_000, "n_parts": 20, "warm_clips": 2000},
        "incremental_meta": {"n_rows": 600_000, "n_parts": 200, "seeded_parts": 50,
                             "warm_rows": 20_000, "warm_parts": 20},
        "text_dedup": {"n_docs": 4000, "warm_docs": 600},
    },
    "tiny": {
        "validate_audio": {"n_clips": 4000, "n_parts": 10, "warm_clips": 400},
        "incremental_meta": {"n_rows": 8000, "n_parts": 40, "seeded_parts": 10,
                             "warm_rows": 2000, "warm_parts": 8},
        "text_dedup": {"n_docs": 600, "warm_docs": 200},
    },
}

# the warm-up tables and drift references are the same in every run
FIXED_SEED = 7
CACHE_KEEP = 4  # inputs per workload kept on disk, the fixed ones included

# incremental_meta planting rates and the synth attribute mix
DUP_RATE = 0.001
MISSING_REF_RATE = 0.001
N_TRUE_ORPHANS = 20
_SR = np.array([8000, 16000, 22050, 44100, 48000], dtype=np.int32)
_SR_W = np.array([0.35, 0.30, 0.15, 0.12, 0.08])
_CODECS = np.array(["pcm16", "ulaw", "alaw"], dtype=object)
_CODEC_W = np.array([0.80, 0.15, 0.05])

# text corpora: planted structure the correctness checks look for
EXCERPT_EVERY = 100  # zipf corpus: doc k*100+1 is a 20-token excerpt of doc k*100
EXACT_DUP_EVERY = 500  # near-dup and spans corpora: doc k*500+1 copies doc k*500
DOCS_PER_CLUSTER = 4  # near-dup corpus: clusters of 4 docs sharing 90 of 100 tokens


def clip_id(i: int) -> str:
    return f"clip_{i:012d}"


def _source_key(*parts) -> str:
    from real_time_anomaly_detection_spark import synth
    from real_time_anomaly_detection_spark.audio import codecs

    h = hashlib.sha256(json.dumps(parts, sort_keys=True).encode())
    for mod in (inspect.getmodule(_source_key), synth, codecs):
        h.update(inspect.getsource(mod).encode())
    return h.hexdigest()[:16]


def ensure(work: str, workload: str, seed: int, size: str) -> str:
    """Return the input directory for (workload, seed, size), generating it
    on first use. Its ``params.json`` names the sizes, the seed and the
    directory of the fixed inputs (warm-up tables, drift reference), which
    are the same for every seed and generated once."""
    params = SIZES[size][workload]
    fixed = _cached(work, f"{workload}-fixed", params,
                    lambda d: _FIXED[workload](d, **params))
    return _cached(work, f"{workload}-{seed}", params,
                   lambda d: _GENERATORS[workload](d, seed, **params),
                   workload=workload, seed=seed, size=size, fixed=fixed)


def _cached(work: str, name: str, params: dict, generate, **meta) -> str:
    """Generate into a temporary sibling and rename it into place, so an
    interrupted generation never leaves a half-written cache."""
    out = os.path.join(work, "inputs", f"{name}-{_source_key(name, params)}")
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        os.utime(out)
        return out
    _evict(os.path.dirname(out), name.rsplit("-", 1)[0])
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    generate(tmp)
    with open(os.path.join(tmp, "params.json"), "w") as f:
        json.dump({**params, **meta}, f)
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def _evict(inputs_dir: str, workload: str) -> None:
    """Bound the cache: keep the CACHE_KEEP most recently used inputs of a
    workload (a validate_audio input is ~270 MB) and drop the rest."""
    if not os.path.isdir(inputs_dir):
        return
    mine = [os.path.join(inputs_dir, d) for d in os.listdir(inputs_dir)
            if d.startswith(f"{workload}-")]
    mine.sort(key=os.path.getmtime, reverse=True)
    for d in mine[CACHE_KEEP - 1:]:
        shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------- validate_audio

def golden(seed: int, n_clips: int, n_parts: int):
    """The golden fixture at this size and seed; the PCM oracle needs it too."""
    from real_time_anomaly_detection_spark import synth

    cfg = synth.golden_config(n_clips=n_clips, clips_per_partition=n_clips // n_parts)
    return replace(cfg, seed=seed)


def clean(seed: int, n_clips: int):
    """Drift reference: the clean fixture drawn from the same distributions
    under its own seed, so it is an independent sample."""
    from real_time_anomaly_detection_spark import synth

    return replace(synth.clean_config(n_clips, max(n_clips // 4, 1)), seed=seed + 1_000_000)


def _clips_part(cfg, lo: int, hi: int, path: str) -> None:
    from real_time_anomaly_detection_spark import synth
    from real_time_anomaly_detection_spark.schemas import CLIPS

    pdf = synth.clips_pdf(cfg, lo, hi)
    tbl = pa.Table.from_pandas(pdf, schema=_arrow_schema(CLIPS), preserve_index=False)
    # ~100-row groups (a few MB of payload) so the payload scan splits into
    # at least as many tasks as cores
    pq.write_table(tbl, path, row_group_size=100)


def _arrow_schema(struct) -> pa.Schema:
    kinds = {"StringType()": pa.string(), "BinaryType()": pa.binary(),
             "IntegerType()": pa.int32(), "LongType()": pa.int64()}
    return pa.schema([pa.field(f.name, kinds[repr(f.dataType)], f.nullable)
                      for f in struct.fields])


def _write_golden(out: str, cfg, pool: ProcessPoolExecutor) -> None:
    from real_time_anomaly_detection_spark import synth
    from real_time_anomaly_detection_spark.schemas import TRANSCRIPTS_REF

    cpp = cfg.clips_per_partition
    os.makedirs(os.path.join(out, "clips"))
    futs = [
        pool.submit(_clips_part, cfg, lo, min(lo + cpp, cfg.n_clips),
                    os.path.join(out, "clips", f"part-{lo // cpp:05d}.parquet"))
        for lo in range(0, cfg.n_clips, cpp)
    ]
    refs = synth.transcripts_ref_pdf(cfg)
    pq.write_table(pa.Table.from_pandas(refs, schema=_arrow_schema(TRANSCRIPTS_REF),
                                        preserve_index=False),
                   os.path.join(out, "refs.parquet"))
    for f in futs:
        f.result()


def _gen_validate_audio(out: str, seed: int, n_clips: int, n_parts: int, **_) -> None:
    with ProcessPoolExecutor(4, mp_context=get_context("spawn")) as pool:
        _write_golden(out, golden(seed, n_clips, n_parts), pool)


def _fixed_validate_audio(out: str, n_clips: int, warm_clips: int, **_) -> None:
    ref = clean(FIXED_SEED, min(n_clips, 4000))
    with ProcessPoolExecutor(4, mp_context=get_context("spawn")) as pool:
        drift_ref = [pool.submit(_metadata_rows, ref, lo, lo + 500)
                     for lo in range(0, ref.n_clips, 500)]
        _write_golden(os.path.join(out, "warm"), golden(FIXED_SEED, warm_clips, 10), pool)
        pq.write_table(pa.concat_tables([f.result() for f in drift_ref]),
                       os.path.join(out, "drift_ref.parquet"))


def _metadata_rows(cfg, lo: int, hi: int) -> pa.Table:
    from real_time_anomaly_detection_spark import synth

    pdf = synth.clips_pdf(cfg, lo, min(hi, cfg.n_clips)).drop(columns=["bytes"])
    return pa.Table.from_pandas(pdf, preserve_index=False)


# -------------------------------------------------------------- incremental_meta

def _meta_tables(seed: int, n_rows: int, n_parts: int):
    """(clips, refs, truth) for the metadata-only workload.

    truth: planted duplicate ids (row index -> copied id), missing-ref ids and
    true orphan ids."""
    rng = np.random.default_rng([seed, 0x1C])
    per = n_rows // n_parts
    idx = np.arange(n_rows)
    part = (idx // per).astype(np.int32)
    ids = idx.copy()
    dup = np.flatnonzero((rng.random(n_rows) < DUP_RATE) & (idx % per != 0))
    ids[dup] = ids[dup - 1]  # an exact re-send of the previous row's id
    canon = np.unique(ids)
    missing = np.sort(rng.choice(canon, size=max(1, int(MISSING_REF_RATE * n_rows)),
                                 replace=False))
    sr = _SR[rng.choice(len(_SR), n_rows, p=_SR_W)]
    dur = np.clip(np.exp(rng.normal(6.6, 0.5, n_rows)), 200, 4000).astype(np.int32)
    codec = _CODECS[rng.choice(len(_CODECS), n_rows, p=_CODEC_W)]
    # duplicates copy their source row's attributes, like synth's re-sends
    sr[dup], dur[dup], codec[dup] = sr[dup - 1], dur[dup - 1], codec[dup - 1]
    clip_ids = [clip_id(i) for i in ids]
    clips = pa.table({
        "clip_id": pa.array(clip_ids, pa.string()),
        "bytes": pa.array([b""] * n_rows, pa.binary()),
        "sr_hz": pa.array(sr, pa.int32()),
        "dur_ms": pa.array(dur, pa.int32()),
        "codec": pa.array(codec.tolist(), pa.string()),
        "transcript": pa.array([""] * n_rows, pa.string()),
        "part_id": pa.array(part, pa.int32()),
    })
    orphans = np.arange(n_rows, n_rows + N_TRUE_ORPHANS)
    ref_ids = np.concatenate([np.setdiff1d(canon, missing), orphans])
    refs = pa.table({"clip_id": pa.array([clip_id(i) for i in ref_ids], pa.string()),
                     "transcript": pa.array([""] * len(ref_ids), pa.string())})
    truth = {"dup_rows": dup.tolist(), "missing": missing.tolist(),
             "orphans": orphans.tolist(), "per": per}
    return clips, refs, truth


def _write_meta(d: str, seed: int, rows: int, parts: int) -> None:
    os.makedirs(os.path.join(d, "clips"), exist_ok=True)
    clips, refs, truth = _meta_tables(seed, rows, parts)
    # one row group per partition: the pending-partition IN filter can skip
    # validated partitions by their row-group statistics
    pq.write_table(clips, os.path.join(d, "clips", "part-00000.parquet"),
                   row_group_size=rows // parts)
    pq.write_table(refs, os.path.join(d, "refs.parquet"))
    with open(os.path.join(d, "truth.json"), "w") as f:
        json.dump(truth, f)


def _gen_incremental_meta(out: str, seed: int, n_rows: int, n_parts: int, **_) -> None:
    _write_meta(out, seed, n_rows, n_parts)


def _fixed_incremental_meta(out: str, n_rows: int, warm_rows: int, warm_parts: int,
                            **_) -> None:
    _write_meta(os.path.join(out, "warm"), FIXED_SEED, warm_rows, warm_parts)
    # drift reference: an independent draw from the same attribute mix
    ref, _, _ = _meta_tables(FIXED_SEED + 1, min(n_rows, 20_000), 1)
    pq.write_table(ref.drop(["bytes"]), os.path.join(out, "drift_ref.parquet"))


# -------------------------------------------------------------------- text_dedup

def _words(n: int) -> np.ndarray:
    """Pure-letter base-26 words: each survives the [a-z]+ tokenizer whole."""
    letters = "abcdefghijklmnopqrstuvwxyz"
    out = []
    for i in range(n):
        w = []
        while True:
            w.append(letters[i % 26])
            i //= 26
            if not i:
                break
        out.append("".join(w))
    return np.asarray(out, dtype=object)


def _write_docs(d: str, texts: list[str]) -> None:
    os.makedirs(d, exist_ok=True)
    n = len(texts)
    langs, srcs = ["en", "de", "fr", "es"], ["webcrawl", "books", "forums"]
    tbl = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([langs[i % 4] for i in range(n)], pa.string()),
        "source": pa.array([srcs[i % 3] for i in range(n)], pa.string()),
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    # several row groups so every scan-local kernel sees >= cores tasks
    pq.write_table(tbl, os.path.join(d, "documents.parquet"),
                   row_group_size=max(n // 16, 64))


def neardup_texts(seed: int, n_docs: int) -> list[str]:
    """Near-dup corpus: clusters of 4 docs sharing 90 of 100 tokens (one
    cluster per 200 docs), every 500th doc copied whole by its successor,
    every other doc with its own vocabulary. Token
    spellings carry a seed-derived tag, so each seed is a different corpus."""
    rng = np.random.default_rng([seed, 0xD0C])
    tag = "".join(rng.choice(list("abcdefghij"), 3))
    n_clusters = n_docs // 200
    texts = []
    for c in range(n_clusters):
        base = [f"c{c}{tag}share{j}tok" for j in range(90)]
        for m in range(DOCS_PER_CLUSTER):
            texts.append(" ".join(base + [f"c{c}m{m}own{j}" for j in range(10)]))
    while len(texts) < n_docs:
        doc = len(texts)
        if doc % EXACT_DUP_EVERY == 1:
            texts.append(texts[doc - 1])  # an exact re-send
            continue
        n_tok = 40 + int(rng.integers(0, 160))
        texts.append(" ".join(f"d{doc}{tag}w{j % 53}u{j}" for j in range(n_tok)))
    return texts


def span_texts(seed: int, n_docs: int, vocab: int = 50_000) -> tuple[list[str], list[int]]:
    """Spans corpus: uniform vocabulary, one shared 30-token passage per 100
    docs spliced into 4 docs, and every 500th doc copied whole by its
    successor. Returns (texts, docs carrying a planted passage)."""
    rng = np.random.default_rng([seed, 0x5BA])
    words = _words(vocab)
    n_passages = max(n_docs // 100, 1)
    passages = [words[rng.integers(0, vocab, 30)].tolist() for _ in range(n_passages)]
    texts, carriers = [], []
    for doc in range(n_docs):
        if doc % EXACT_DUP_EVERY == 1:
            texts.append(texts[doc - 1])
            continue
        n_tok = 50 + int(rng.integers(0, 250))
        toks = words[rng.integers(0, vocab, n_tok)].tolist()
        if doc < 4 * n_passages:
            p, m = divmod(doc, 4)
            at = (m * 11) % max(n_tok - 1, 1)
            toks[at:at] = passages[p]
            carriers.append(doc)
        texts.append(" ".join(toks))
    return texts, carriers


def zipf_texts(seed: int, n_docs: int, vocab: int = 200_000) -> list[str]:
    """Zipf(1.1) vocabulary; doc k*100+1 is a contiguous 20-token excerpt of
    doc k*100 (containment 1.0 inner -> outer)."""
    rng = np.random.default_rng([seed, 0x21F])
    words = _words(vocab)
    cdf = np.cumsum(np.arange(1, vocab + 1, dtype=np.float64) ** -1.1)
    cdf /= cdf[-1]
    texts = []
    for doc in range(n_docs):
        if doc % EXCERPT_EVERY == 1:
            prev = texts[doc - 1].split()
            at = int(rng.integers(0, max(len(prev) - 20, 1)))
            texts.append(" ".join(prev[at:at + 20]))
            continue
        n_tok = 40 + int(rng.integers(0, 200))
        texts.append(" ".join(words[np.searchsorted(cdf, rng.random(n_tok))].tolist()))
    return texts


def _gen_text(out: str, n_docs: int, seed: int) -> None:
    _write_docs(os.path.join(out, "neardup"), neardup_texts(seed, n_docs))
    texts, carriers = span_texts(seed, n_docs)
    _write_docs(os.path.join(out, "spans"), texts)
    _write_docs(os.path.join(out, "zipf"), zipf_texts(seed, n_docs))
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump({"passage_carriers": carriers}, f)


def _gen_text_dedup(out: str, seed: int, n_docs: int, **_) -> None:
    _gen_text(out, n_docs, seed)


def _fixed_text_dedup(out: str, warm_docs: int, **_) -> None:
    _gen_text(os.path.join(out, "warm"), warm_docs, FIXED_SEED)


_GENERATORS = {
    "validate_audio": _gen_validate_audio,
    "incremental_meta": _gen_incremental_meta,
    "text_dedup": _gen_text_dedup,
}
_FIXED = {
    "validate_audio": _fixed_validate_audio,
    "incremental_meta": _fixed_incremental_meta,
    "text_dedup": _fixed_text_dedup,
}
