"""The workloads: ``temporal``, and ``features``, which runs its two parts
``Kernels`` then ``Backfill``.

Each workload drives the engine's public functions over one generated
corpus. ``iteration`` runs the workload's operations once, one at a time,
and checks every result; ``attribute`` (traced runs only) times layer
prefixes and reads SQL metrics to split the work by module.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import sys
import time
import traceback
from typing import Sequence

import numpy as np
from pyspark.sql import Window
from pyspark.sql import functions as F

from perfbench import corpus as C
from perfbench.probe import group_counts, metric_sum, plan_nodes

DIM = 64  # feature width of the kernel jobs, as in bench.py
SAMP_RATE = 1.0
KERNEL_SAMPLE = 1000  # sequences compared against the numpy reference
# Backfill partitions: the Zipf heavy hitter and a light source, 20x apart in
# rows. Each partition costs about the same dozen Spark jobs whatever its
# size, so two of the twenty keep one run within its time budget.
PARTITIONS = ("src0", "src5")
# Manifest checksums of those partitions, pinned for the development seed and
# the seed reserved for validating claims. On other seeds the checksum only
# has to repeat that of the warm-up pass: a wrong but repeatable one passes.
PINNED_CHECKSUMS = {
    42: {"src0": 4842195053453269836, "src5": -8931298965550567637},
    4242: {"src0": -1763569364251670961, "src5": -1638962401779505077},
}


class NoSpans:
    """Stands in for ``probe.Spans`` when tracing is off."""

    def span(self, name):
        return contextlib.nullcontext()


class Tally:
    """Attempted and failed operations; a wrong result is a failure."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, name: str, op):
        """Run ``op()``; it returns a list of (what, got, want) checks."""
        self.attempted += 1
        try:
            bad = [(w, g, e) for w, g, e in op() if g != e]
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return
        if bad:
            self.failed += 1
            print(f"[perfbench] {name} wrong: {bad}", file=sys.stderr)


def _noop(build) -> float:
    """Median of three times to materialize ``build()``, rebuilt for every
    repetition so that no run reuses the shuffle stages of an earlier one."""
    times = []
    for _ in range(3):
        df = build()
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _hash_exchanges(cls, desc):
    return cls == "ShuffleExchangeExec" and "hashpartitioning" in desc


def _python_nodes(cls, desc):
    return "Python" in cls or "Arrow" in cls


def _python_metrics(nodes, prefix: str) -> dict:
    return {
        f"{prefix}.python_sent_bytes": metric_sum(nodes, "pythonDataSent", _python_nodes),
        f"{prefix}.python_recv_bytes": metric_sum(nodes, "pythonDataReceived", _python_nodes),
        f"{prefix}.python_s": metric_sum(nodes, "pythonTotalTime", _python_nodes) / 1e3,
    }


class Workload:
    """One corpus, driven one operation at a time."""

    partition_s: Sequence[float] = ()  # backfill partition commits, pooled
    resume_s: Sequence[float] = ()
    min_iterations = 1  # timed iterations, however long the window

    def warm(self, tally: Tally) -> None:
        """The untimed first iteration: compiles, starts workers, fills caches."""
        self.iteration(tally, NoSpans(), False)

    def final_check(self, tally: Tally) -> None:
        """Checks made once per run, after the timed iterations."""


class Temporal(Workload):
    """As-of join with lag/rolling features; sessionize -> subflows -> agg."""

    # passes keep getting faster while the JIT compiles, so the count of timed
    # ones is fixed: every run's median sits at the same point of that trend
    min_iterations = 6

    def __init__(self, spark, corpus: C.Corpus, work: str):
        self.spark, self.c = spark, corpus
        self.rows = corpus.n_events
        self.last = {}

    def _events(self):
        return self.spark.read.parquet(self.c.ev_path)

    def _asof(self):
        from netml_spark.operators.asof import asof_join

        tev = self._events()
        right = tev.filter(F.col("seq") % C.ASOF_EVERY == 0).select(
            "doc_id", "ts", F.col("token").alias("snap"))
        return asof_join(tev, right, on=("doc_id",), value_cols=("snap",))

    def _features(self):
        w = Window.partitionBy("doc_id").orderBy("ts", "seq")
        return (
            self._asof()
            .withColumn("gap", F.col("ts") - F.lag("ts").over(w))
            .withColumn("roll_sum", F.sum("token").over(w.rowsBetween(-(C.ROLL_ROWS - 1), 0)))
        )

    def _sessions(self):
        from netml_spark.operators import sessionize_timeout

        return sessionize_timeout(self._events(), ("doc_id",), "ts", C.TIMEOUT,
                                  C.PKTS_THRES, ("seq",), defer_seg_filter=True)

    def _subflows(self):
        from netml_spark.operators import subflows_interval

        return subflows_interval(self._sessions(), C.SUBFLOW_INTERVAL,
                                 ["doc_id", "session_id"], "ts", C.PKTS_THRES,
                                 ("seq",), assume_partitioned=True)

    def _asof_job(self):
        df = self._features().agg(
            F.count(F.lit(1)).alias("rows"), F.count("gap").alias("gaps"),
            F.count("snap").alias("count_snap"), F.sum("snap").alias("sum_snap"),
            F.sum("roll_sum").alias("sum_roll"),
        )
        row = df.collect()[0].asDict()
        self.last["asof"] = (df, row)
        return [(k, row[k], v) for k, v in self.c.expect["asof"].items()]

    def _subflow_job(self):
        per = self._subflows().groupBy("doc_id", "session_id", "subflow_id").agg(
            F.count(F.lit(1)).alias("n"), F.sum("token").alias("s"))
        df = per.agg(F.count(F.lit(1)).alias("count"), F.sum("s").alias("sum_tokens"),
                     F.sum("n").alias("kept_events"))
        row = df.collect()[0].asDict()
        self.last["subflows"] = (df, row)
        return [(k, row[k], v) for k, v in self.c.expect["subflows"].items()]

    def iteration(self, tally: Tally, spans, traced: bool) -> None:
        with spans.span("asof_join"):
            tally.run("asof_join", self._asof_job)
        with spans.span("subflows"):
            tally.run("subflows", self._subflow_job)

    def attribute(self) -> dict:
        scan = _noop(self._events)
        asof = _noop(self._asof)
        sess = _noop(self._sessions)
        subs = _noop(self._subflows)
        a_df, a_row = self.last["asof"]
        s_df, s_row = self.last["subflows"]
        a, s = plan_nodes(a_df), plan_nodes(s_df)
        return {
            "asof.self_s": asof - scan,
            "asof.exchange_bytes": metric_sum(a, "dataSize", _hash_exchanges),
            "asof.sort_s": metric_sum(a, "sortTime", lambda c, d: "_side" in d) / 1e3,
            "asof.scan_rows": metric_sum(a, "numOutputRows", lambda c, d: "Scan" in c),
            "asof.match_rate": a_row["count_snap"] / a_row["rows"],
            "sessionize.timeout_self_s": sess - scan,
            "sessionize.subflows_self_s": subs - sess,
            "sessionize.exchange_bytes": metric_sum(s, "dataSize", _hash_exchanges),
            "sessionize.sort_s": metric_sum(s, "sortTime") / 1e3,
            "sessionize.keep_ratio": s_row["kept_events"] / self.rows,
            **_python_metrics(s, "sessionize"),
        }


def _kernel_columns():
    from netml_spark.operators import kernels as K

    return {
        "iat_pad": lambda: K.pad_truncate(K.iat("times"), DIM - 1),
        "iat_size_pad": lambda: K.pad_truncate(K.iat_size("times", "tokens"), 2 * DIM - 1),
        "samp": lambda: K.samp_udf("SAMP_NUM", SAMP_RATE)("times", "tokens"),
        "fft": lambda: K.fft_udf(DIM - 1)(K.iat("times")),
    }


def _kernel_reference(name: str, t, s):
    from netml_spark.oracle import netml_ref as R

    if name == "iat_pad":
        return R.pad_truncate(R.get_IAT(t), DIM - 1)
    if name == "iat_size_pad":
        return R.pad_truncate(R.get_IAT_SIZE(t, s), 2 * DIM - 1)
    if name == "samp":
        return R.get_SAMP(t, s, "SAMP_NUM", SAMP_RATE)
    return R.get_FFT(R.get_IAT(t), DIM - 1)


# tolerances pinned by tests/test_kernels.py: exact except the FFT
KERNEL_TOL = {"iat_pad": 0.0, "iat_size_pad": 0.0, "samp": 0.0, "fft": 1e-12}
# the columns each kernel reads: the scan its self time is measured against
KERNEL_INPUTS = {"iat_pad": ("times",), "iat_size_pad": ("times", "tokens"),
                 "samp": ("times", "tokens"), "fft": ("times",)}


class Kernels:
    """Part of ``features``: IAT+pad, IAT_SIZE+pad, SAMP_NUM and FFT over the
    sequence table."""

    def __init__(self, spark, corpus: C.Corpus):
        self.spark, self.c = spark, corpus
        self.rows = corpus.n_docs
        self.cols = _kernel_columns()
        self.first: dict = {}  # hash sum of each kernel's first full pass
        self.last = None

    def _seqs(self):
        return self.spark.read.parquet(self.c.seq_path)

    def _job(self):
        """All four feature columns in one pass, as a caller extracting them
        would: one job, one row count and one hash sum per kernel."""
        df = self._seqs().select(*[F.hash(f()).alias(n) for n, f in self.cols.items()]).agg(
            F.count(F.lit(1)).alias("rows"), *[F.sum(n).alias(n) for n in self.cols])
        row = df.collect()[0]
        self.last = df
        checks = [("rows", row["rows"], self.rows)]
        for name in self.cols:
            self.first.setdefault(name, row[name])
            checks.append((f"{name}_hash_sum", row[name], self.first[name]))
        return checks

    def iteration(self, tally: Tally, spans, traced: bool) -> None:
        with spans.span("kernels"):
            tally.run("kernels", self._job)

    def final_check(self, tally: Tally) -> None:
        """Compare a fixed sample of sequences with the numpy reference."""
        rng = np.random.default_rng(self.c.seed)
        picks = rng.choice(self.c.n_docs, size=min(KERNEL_SAMPLE, self.c.n_docs), replace=False)
        ids = [f"doc{d:08d}" for d in picks]
        rows = self._seqs().filter(F.col("doc_id").isin(ids)).select(
            "times", "tokens", *[f().alias(n) for n, f in self.cols.items()]).collect()

        def check(name):
            tol = KERNEL_TOL[name]
            bad = 0
            for r in rows:
                t = np.asarray(r.times, dtype=np.float64)
                s = np.asarray(r.tokens, dtype=np.float64)
                want = _kernel_reference(name, t, s)
                got = np.asarray(r[name], dtype=np.float64)
                if got.shape != want.shape or not np.allclose(got, want, rtol=tol, atol=tol):
                    bad += 1
            return [("sample_rows", len(rows), len(ids)), (f"{name}_mismatches", bad, 0)]

        for name in self.cols:
            tally.run(f"{name}_sample", lambda: check(name))

    def attribute(self) -> dict:
        scans = {cols: _noop(lambda: self._seqs().select(*cols))
                 for cols in set(KERNEL_INPUTS.values())}
        out = {f"kernels.{n}_s": _noop(lambda: self._seqs().select(f().alias("f")))
               - scans[KERNEL_INPUTS[n]] for n, f in self.cols.items()}
        nodes = plan_nodes(self.last)
        out.update(_python_metrics(nodes, "kernels"))
        out["kernels.python_boot_s"] = (
            metric_sum(nodes, "pythonBootTime", _python_nodes)
            + metric_sum(nodes, "pythonInitTime", _python_nodes)) / 1e3
        return out


class Backfill:
    """Part of ``features``: the ``jobs/extract_features.py --checkpoint``
    path, one IAT ``FeaturePlan`` per source partition through
    ``CheckpointManifest``, then a resume pass over the completed manifest."""

    STAGE = "features_IAT"

    def __init__(self, spark, corpus: C.Corpus, work: str):
        self.spark, self.c = spark, corpus
        self.root = os.path.join(work, "backfill")
        self.runs = 0
        self.partition_s: list[float] = []
        self.resume_s: list[float] = []
        self.checksums = dict(PINNED_CHECKSUMS.get(corpus.seed, {}))
        self.detail: list[dict] = []  # per-partition counts, traced runs

    def _run(self, tally: Tally, traced: bool):
        from netml_spark.manifest import CheckpointManifest
        from netml_spark.pipeline import FeaturePlan

        spark, sc = self.spark, self.spark.sparkContext
        root = os.path.join(self.root, f"run{self.runs}")
        self.runs += 1
        extract_s = {}

        events = spark.read.parquet(self.c.ev_path)
        present = {r[0] for r in events.select("source").distinct().collect()}
        parts = [p for p in PARTITIONS if p in present]

        def build(p):
            sc.setJobGroup(f"{root}:{p}", f"backfill {p}")
            t = time.perf_counter()
            df = FeaturePlan(feat_type="IAT").extract(
                events.filter(F.col("source") == p), ("doc_id",), "ts", "token",
                ("seq",), carry_cols=("source",))
            extract_s[p] = time.perf_counter() - t
            return df

        man = CheckpointManifest(spark, root)
        first = man.run_stage(self.STAGE, parts, build, "source")
        t1 = time.perf_counter()
        again = man.run_stage(self.STAGE, parts, build, "source")
        t2 = time.perf_counter()

        rows = man.read().filter(F.col("status") == "ok").collect()
        expect = self.c.expect["backfill_rows"]
        for p in parts:
            def check(p=p):
                status, n = first[p]
                got = [r for r in rows if r.partition == p]
                self.checksums.setdefault(p, got[0].checksum if got else None)
                return [("status", status, "ok"), ("row_count", n, expect.get(p, 0)),
                        ("manifest_rows", len(got), 1),
                        ("checksum", got[0].checksum if got else None, self.checksums[p])]
            tally.run(f"partition {p}", check)
        tally.run("resume", lambda: [(p, again[p][0], "skipped") for p in parts])
        self.partition_s += [r.wall_s for r in rows]
        self.resume_s.append(t2 - t1)
        if traced:
            out_bytes = sum(os.path.getsize(os.path.join(d, f))
                            for d, _, fs in os.walk(os.path.join(root, self.STAGE)) for f in fs)
            for r in rows:
                jobs, stages, tasks = group_counts(spark, f"{root}:{r.partition}")
                self.detail.append({"extract_s": extract_s[r.partition],
                                    "commit_s": r.wall_s - extract_s[r.partition],
                                    "jobs": jobs, "stages": stages, "tasks": tasks})
            self.output_bytes = out_bytes
            self.persisted_after = sc._jsc.getPersistentRDDs().size()
        # FeaturePlan caches are never released on this path; a later
        # iteration would reuse them and skip jobs, which a fresh job run
        # never does. Start every iteration from an empty cache.
        spark.catalog.clearCache()
        shutil.rmtree(root, ignore_errors=True)

    def iteration(self, tally: Tally, spans, traced: bool) -> None:
        with spans.span("backfill"):
            self._run(tally, traced)

    def attribute(self) -> dict:
        med = lambda k: statistics.median(d[k] for d in self.detail)  # noqa: E731
        return {
            "pipeline.extract_s": med("extract_s"),
            "pipeline.persisted_after": self.persisted_after,
            "manifest.commit_s": med("commit_s"),
            "manifest.jobs_per_partition": med("jobs"),
            "manifest.stages_per_partition": med("stages"),
            "manifest.tasks_per_partition": med("tasks"),
            "manifest.output_bytes": self.output_bytes,
        }


class Features(Workload):
    """The feature path: the kernel pass over the sequence table, then the
    checkpointed backfill."""

    # the median of two passes; a third would not fit the run's time budget
    min_iterations = 2

    def __init__(self, spark, corpus: C.Corpus, work: str):
        self.kernels = Kernels(spark, corpus)
        self.backfill = Backfill(spark, corpus, work)
        self.rows = corpus.n_docs
        self.partition_s = self.backfill.partition_s
        self.resume_s = self.backfill.resume_s

    def warm(self, tally: Tally) -> None:
        super().warm(tally)
        # the warm-up's backfill timings are not samples
        self.partition_s.clear()
        self.resume_s.clear()

    def iteration(self, tally: Tally, spans, traced: bool) -> None:
        self.kernels.iteration(tally, spans, traced)
        self.backfill.iteration(tally, spans, traced)

    def final_check(self, tally: Tally) -> None:
        self.kernels.final_check(tally)

    def attribute(self) -> dict:
        return {**self.kernels.attribute(), **self.backfill.attribute()}


WORKLOADS = {"temporal": Temporal, "features": Features}
