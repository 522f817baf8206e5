"""Per-sequence feature kernels (reference parser.py:354-652).

Operate on array columns of the sequences shape (times:array<double>,
tokens:array<int>). Wherever semantics allow, the kernel is a *native array
expression* (JVM-side, zero Python): IAT, SIZE, IAT_SIZE, pad/truncate,
header flag counts. Their higher-order functions (``transform``,
``zip_with``, ``aggregate``) are ``CodegenFallback`` in Spark, so they are
interpreted per row inside the generated stage, not compiled into it.
The genuinely sequential or numpy-only kernels (SAMP's dual 500-cap loop,
FFT) are Arrow-batched pandas UDFs with numpy inner loops — no per-row
Python at the Spark boundary (input_hint mandate).

Each kernel cites the reference lines whose output it reproduces; parity is
pinned by tests vs the numpy oracle (netml_spark.oracle.netml_ref).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from netml_spark.oracle import netml_ref

# ---------------------------------------------------------------------------
# Native array-expression kernels
# ---------------------------------------------------------------------------


def iat(times: Column | str) -> Column:
    """Inter-arrival gaps: np.diff twin (parser.py:354-375). Native:
    zip_with of the array against its own tail — no shuffle, no Python."""
    t = F.col(times) if isinstance(times, str) else times
    n = F.size(t)
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(t, 2, n - 1), F.slice(t, 1, n - 1), lambda a, b: a - b
        ),
    ).otherwise(F.array().cast("array<double>"))


def sizes_double(tokens: Column | str) -> Column:
    """SIZE feature: the token/size series as array<double> (parser.py:378-398)."""
    t = F.col(tokens) if isinstance(tokens, str) else tokens
    return F.transform(t, lambda x: x.cast("double"))


def iat_size(times: Column | str, tokens: Column | str) -> Column:
    """Interleave [iat_0, size_0, ..., iat_{n-2}, size_{n-2}, size_{n-1}]
    (parser.py:401-427; size_j pairs with iat_j, last size appended).
    Native: flatten(zip_with(iats, sizes[:n-1], (a,b)->array(a,b))) ++ [last]."""
    t = F.col(times) if isinstance(times, str) else times
    s = sizes_double(tokens)
    n = F.size(t)
    gaps = iat(t)
    pairs = F.flatten(
        F.zip_with(gaps, F.slice(s, 1, n - 1), lambda a, b: F.array(a, b))
    )
    return F.when(n >= 2, F.concat(pairs, F.slice(s, -1, 1))).otherwise(
        F.when(n == 1, F.slice(s, -1, 1)).otherwise(F.array().cast("array<double>"))
    )


def pad_truncate(v: Column | str, dim: int) -> Column:
    """v[:dim] else v ++ zeros (parser.py:818). Native slice+concat."""
    c = F.col(v) if isinstance(v, str) else v
    padded = F.concat(c, F.array_repeat(F.lit(0.0), int(dim)))
    return F.slice(padded, 1, int(dim))


TCP_FLAG_ORDER = "FSRPAUEC"


def header_flag_counts(flags_arr: Column | str, protos_arr: Column | str) -> Column:
    """8 TCP-flag counts over a per-sequence array of flag strings
    (parser.py:311-343): each char counted once per packet, only proto==6
    packets contribute. Native: per-flag aggregate over the zipped arrays."""
    fl = F.col(flags_arr) if isinstance(flags_arr, str) else flags_arr
    pr = F.col(protos_arr) if isinstance(protos_arr, str) else protos_arr
    zipped = F.zip_with(fl, pr, lambda f, p: F.struct(f.alias("f"), p.alias("p")))

    def count_flag(ch: str) -> Column:
        return F.aggregate(
            zipped,
            F.lit(0.0),
            lambda acc, x: acc
            + F.when((x["p"] == 6) & x["f"].contains(ch), 1.0).otherwise(0.0),
        )

    return F.array(*[count_flag(ch) for ch in TCP_FLAG_ORDER])


def header_features(flags_arr, protos_arr, ttls_arr) -> Column:
    """flag counts ++ per-packet TTLs (parser.py:300-349)."""
    ttl = F.col(ttls_arr) if isinstance(ttls_arr, str) else ttls_arr
    return F.concat(
        header_flag_counts(flags_arr, protos_arr),
        F.transform(ttl, lambda x: x.cast("double")),
    )


# ---------------------------------------------------------------------------
# Arrow/pandas-UDF kernels (sequential or numpy-only semantics)
# ---------------------------------------------------------------------------


def _samp_fast_batch(times: pd.Series, tokens: pd.Series, feat: str, rate: float):
    """Batch-vectorized SAMP for the common no-cap path.

    When no 500-cap triggers, the reference loop (parser.py:472-559) emits
    exactly the grid buckets 0..K with k_i = floor((t_i - t_0)/rate) and a
    trailing bucket dropped iff its sum <= 0 — computable for ALL rows of
    an Arrow batch with ONE global np.bincount over offset bucket ids.

    A row is eligible only when the closed-form result is PROVABLY equal
    to the loop's (which accumulates ``current`` by repeated float adds):
      - no (t_i - t_0)/rate with q >= 0.5 lies within ``margin`` of an
        integer (grid-boundary packets are path-dependent in the loop,
        and accumulated-rounding drift could flip their comparisons)
      - total buckets K+1 <= 500 (whole-feature truncation never fires)
      - no consecutive-bucket gap > 501 (per-gap zero-fill cap never fires)
    Ineligible rows (returned as index array) fall back to the verbatim
    loop. margin bounds ~1000 accumulated ulps, far above any drift.

    Returns (results: list[np.ndarray|None], fallback_rows: np.ndarray).
    """
    n_rows = len(times)
    lens = times.map(len).to_numpy(dtype=np.int64)
    results: list = [None] * n_rows
    nz = np.flatnonzero(lens)
    if len(nz) == 0:
        return results, np.array([], dtype=np.int64)
    flat_t = np.concatenate([np.asarray(t, dtype=np.float64) for t in times if len(t)])
    row_lens = lens[nz]
    starts = np.concatenate(([0], np.cumsum(row_lens)[:-1]))
    t0_rep = np.repeat(flat_t[starts], row_lens)
    q = (flat_t - t0_rep) / rate
    k = np.floor(q).astype(np.int64)
    np.maximum(k, 0, out=k)  # guard q=-0.0 edge

    margin = 4096.0 * np.spacing(np.abs(flat_t).max() + rate) / rate
    near_boundary = (q >= 0.5) & (np.abs(q - np.round(q)) <= margin)
    K = k[starts + row_lens - 1]  # times sorted -> k nondecreasing per row
    row_id = np.repeat(np.arange(len(nz)), row_lens)
    bad = np.zeros(len(nz), dtype=bool)
    np.logical_or.at(bad, row_id, near_boundary)
    bad |= K + 1 > 500
    if len(k) > 1:
        gap = np.diff(k)
        inner = np.ones(len(k) - 1, dtype=bool)
        inner[starts[1:] - 1] = False  # mask row-crossing diffs
        # per-gap zero-fill cap fires iff bucket gap - 1 > 500
        np.logical_or.at(bad, row_id[1:], (gap > 501) & inner)

    good = ~bad
    if good.any():
        out_lens = K + 1
        g_rows = np.flatnonzero(good)
        good_flat = good[row_id]
        offsets = np.zeros(len(nz), dtype=np.int64)
        offsets[g_rows] = np.concatenate(([0], np.cumsum(out_lens[g_rows])[:-1]))
        total = int(out_lens[g_rows].sum())
        gidx = (k + offsets[row_id])[good_flat]
        if feat == "SAMP_NUM":
            B = np.bincount(gidx, minlength=total).astype(np.float64)
        else:
            flat_s = np.concatenate(
                [np.asarray(s, dtype=np.float64) for s in tokens if len(s)]
            )
            B = np.bincount(gidx, weights=flat_s[good_flat], minlength=total)
        for j in g_rows:
            b = B[offsets[j]: offsets[j] + out_lens[j]]
            # trailing bucket emitted iff its sum > 0 (parser.py:549-550);
            # bincount accumulates weights in input order, so the bucket
            # sums are float-identical to the loop's sequential samp_sub
            results[nz[j]] = b if b[-1] > 0 else b[:-1].copy()
    for i in np.flatnonzero(lens == 0):
        results[i] = np.array([], dtype=np.float64)
    return results, nz[bad]


def samp_udf(sampling_feature: str, sampling_rate: float):
    """SAMP_NUM / SAMP_SIZE with the reference's dual 500-caps
    (parser.py:472-559). Fast path: ONE batch-level np.bincount for every
    row where the caps provably cannot fire and no packet sits on a grid
    boundary (see _samp_fast_batch); other rows run the verbatim oracle
    loop (the per-gap zero-fill cap and whole-feature truncation are
    order-dependent). Parity vs the loop is pinned exact (atol=0) by
    tests/test_kernels.py and the hypothesis properties."""
    rate = float(sampling_rate)
    feat = sampling_feature

    @pandas_udf("array<double>")
    def _samp(times: pd.Series, tokens: pd.Series) -> pd.Series:
        results, fallback = _samp_fast_batch(times, tokens, feat, rate)
        t_arr = times.reset_index(drop=True)
        s_arr = tokens.reset_index(drop=True)
        for i in fallback:
            results[i] = netml_ref.get_SAMP(
                np.asarray(t_arr[i], dtype=np.float64),
                np.asarray(s_arr[i], dtype=np.float64),
                sampling_feature=feat,
                sampling_rate=rate,
            )
        return pd.Series(results)

    return _samp


def fft_udf(fft_bin: int):
    """Real part of np.fft.fft(v, n=fft_bin) (parser.py:624-652)."""
    nbin = int(fft_bin)

    @pandas_udf("array<double>")
    def _fft(v: pd.Series) -> pd.Series:
        return v.map(
            lambda x: np.real(np.fft.fft(np.asarray(x, dtype=np.float64), n=nbin))
        )

    return _fft
