"""Label join (reference parser.py:858-924) — CICIDS-2017-style labeling.

Semantics transcribed:
  - raw label string uppercased; BENIGN/NORMAL -> 0, anything else -> 1
    (parser.py:877, 893-899)
  - duplicate keys: LAST row wins (dict overwrite, parser.py:902) —
    relationally: row_number over (key ORDER BY file order DESC) == 1
  - INNER semantics: flows whose key is absent are dropped
    (parser.py:908-918); the dropped set is exposed via ``anti=True``
    (the reference's not_existed_fids diagnostic, parser.py:913-917)

Physical: the label side is a small dimension -> broadcast hash join (the
reference's dict probe is exactly a broadcast build side).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

NORMAL_LABELS = ("BENIGN", "NORMAL")


def normalize_labels(
    labels: DataFrame,
    key_cols: Sequence[str],
    label_col: str = "label_raw",
    order_col: str | None = None,
) -> DataFrame:
    """Dedupe (last-wins) + binarize the raw label table.

    ``order_col``: column encoding file order; if None, a monotonically
    increasing id is attached (requires the label DF to be read in file
    order — true for CSV/parquet scans)."""
    lf = labels
    if order_col is None:
        lf = lf.withColumn("_ord", F.monotonically_increasing_id())
        order_col = "_ord"
    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).desc())
    deduped = (
        lf.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_ord")
    )
    return deduped.select(
        *key_cols,
        F.when(F.upper(F.trim(F.col(label_col))).isin(*NORMAL_LABELS), 0)
        .otherwise(1)
        .cast("int")
        .alias("label"),
    )


def label_join(
    flows: DataFrame,
    labels: DataFrame,
    key_cols: Sequence[str],
    label_col: str = "label_raw",
    order_col: str | None = None,
    anti: bool = False,
) -> DataFrame:
    """Inner-join flows to normalized labels (broadcast). ``anti=True``
    returns the unlabeled flows instead (reference's diagnostic set)."""
    key_cols = list(key_cols)
    lab = normalize_labels(labels, key_cols, label_col, order_col)
    if anti:
        return flows.join(F.broadcast(lab), key_cols, "left_anti")
    return flows.join(F.broadcast(lab), key_cols, "inner")
