"""Seeded benchmark inputs and their expected outputs.

The sequence table is ``netml_spark.datagen.gen_sequences_fast`` (the
``input_hint`` shape) and the event table is its exploded twin, one row per
(doc_id, seq) with ``ts`` and ``token``, exactly as ``bench.ensure_corpus``
builds them. Both are written with pyarrow, once per (seed, size), under the
benchmark's work directory; the engine only ever reads the parquet.

Expected values are computed here from the generated arrays, without Spark:
integer checksums for the temporal jobs and per-source row counts for the
backfill, using ``netml_spark.oracle.netml_ref`` for the session and subflow
semantics. They are cached next to the parquet as ``expect.json``.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

N_FILES = 16  # parquet files per table, so the scan has several splits
ASOF_EVERY = 20  # right side of the as-of job: events with seq % 20 == 0
ROLL_ROWS = 17  # rolling window rowsBetween(-16, 0)
TIMEOUT = 600.0
SUBFLOW_INTERVAL = 10.0
PKTS_THRES = 2
Q_INTERVAL = 0.9


class Corpus:
    """Paths, sizes and expected values of one generated input set."""

    def __init__(self, root: str, n_docs: int, seed: int):
        self.n_docs = n_docs
        self.seed = seed
        self.dir = os.path.join(root, f"n{n_docs}_seed{seed}")
        self.seq_path = os.path.join(self.dir, "sequences")
        self.ev_path = os.path.join(self.dir, "events")
        self.expect: dict = {}

    @property
    def n_events(self) -> int:
        return int(self.expect["n_events"])


def ensure(root: str, n_docs: int, seed: int) -> Corpus:
    """Generate (or reuse) the corpus for (seed, n_docs)."""
    c = Corpus(root, n_docs, seed)
    done = os.path.join(c.dir, "expect.json")
    if os.path.exists(done):
        with open(done) as f:
            c.expect = json.load(f)
        return c
    tmp = c.dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pdf = _generate(n_docs, seed)
    ev = _explode(pdf)
    _write(pdf, os.path.join(tmp, "sequences"))
    _write(ev, os.path.join(tmp, "events"))
    expect = {"n_docs": n_docs, "n_events": len(ev["ts"]), **_expected(ev)}
    with open(os.path.join(tmp, "expect.json"), "w") as f:
        json.dump(expect, f)
    shutil.rmtree(c.dir, ignore_errors=True)
    os.replace(tmp, c.dir)
    c.expect = expect
    return c


def _generate(n_docs: int, seed: int):
    from netml_spark.datagen import gen_sequences_fast

    return gen_sequences_fast(n_docs=n_docs, seed=seed)


def _explode(pdf) -> dict:
    """The event twin as flat numpy columns, in (doc, seq) order."""
    lens = pdf["n_tok"].to_numpy(np.int64)
    return {
        "doc_id": np.repeat(pdf["doc_id"].to_numpy(object), lens),
        "source": np.repeat(pdf["source"].to_numpy(object), lens),
        "ts": np.concatenate(pdf["times"].to_list()),
        "seq": np.concatenate([np.arange(n, dtype=np.int32) for n in lens]),
        "token": np.concatenate(pdf["tokens"].to_list()).astype(np.int32),
        "_doc": np.repeat(np.arange(len(lens)), lens),
    }


def _write(data, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    if isinstance(data, dict):  # events
        table = pa.table({k: v for k, v in data.items() if not k.startswith("_")})
    else:
        table = pa.Table.from_pandas(data, preserve_index=False)
    os.makedirs(path)
    step = -(-table.num_rows // N_FILES)
    for i in range(N_FILES):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def _expected(ev: dict) -> dict:
    doc, ts, seq, tok = ev["_doc"], ev["ts"], ev["seq"], ev["token"].astype(np.int64)
    n = len(ts)
    # rows are grouped by doc in seq order; within a doc ts never decreases,
    # so (ts, seq) order is row order and the windows are plain row windows
    start = np.r_[0, np.flatnonzero(np.diff(doc)) + 1]
    first = np.repeat(start, np.diff(np.r_[start, n]))
    cs = np.r_[0, np.cumsum(tok)]
    lo = np.maximum(np.arange(n) - (ROLL_ROWS - 1), first)
    roll = cs[np.arange(n) + 1] - cs[lo]
    # as-of: each row takes the last right row (seq % 20 == 0) at or before
    # its ts; right rows sort before left rows on equal ts
    right = seq % ASOF_EVERY == 0
    idx = np.where(right, np.arange(n), -1)
    last = np.maximum.accumulate(idx)
    hit = last >= first
    snap = np.where(hit, tok[np.maximum(last, 0)], 0)

    subflows, per_source = _subflow_oracle(ev, start)
    return {
        "asof": {"rows": n, "gaps": n - len(start), "count_snap": int(hit.sum()),
                 "sum_snap": int(snap.sum()), "sum_roll": int(roll.sum())},
        "subflows": subflows,
        "backfill_rows": per_source,
    }


def _subflow_oracle(ev: dict, start) -> tuple[dict, dict]:
    """Reference sessionize -> subflows, at the fixed interval of the
    temporal job and at the per-source q=0.9 interval of the IAT backfill."""
    from netml_spark.oracle import netml_ref

    bounds = np.r_[start, len(ev["ts"])]
    flows, srcs = [], []
    for a, b in zip(bounds[:-1], bounds[1:]):
        flows.append((ev["doc_id"][a], ev["ts"][a:b], ev["token"][a:b].astype(np.int64)))
        srcs.append(ev["source"][a])
    sessions = netml_ref.pcap2flows(flows, PKTS_THRES, TIMEOUT)
    subs = netml_ref.flows2subflows(sessions, SUBFLOW_INTERVAL, PKTS_THRES)
    count = len(subs)
    tokens = int(sum(int(s.sum()) for _, _, s in subs))
    kept = int(sum(len(s) for _, _, s in subs))

    src_of = dict(zip((f[0] for f in flows), srcs))
    by_source: dict = {}
    for s in sessions:
        by_source.setdefault(src_of[s[0]], []).append(s)
    per_source = {}
    for src, sess in by_source.items():
        durs = [netml_ref.flow_duration(t) for _, t, _ in sess]
        interval = netml_ref.split_interval(durs, Q_INTERVAL)
        per_source[src] = len(netml_ref.flows2subflows(sess, interval, PKTS_THRES))
    return {"count": count, "sum_tokens": tokens, "kept_events": kept}, per_source
