"""JVM expression forms the pipeline's Arrow kernels are pinned against."""

from __future__ import annotations

from pyspark.sql import functions as F


def toks_col():
    """Per-doc tokens as Spark computes them: lowered, split on Java \\s."""
    return F.expr(r"filter(split(lower(text), '\\s+'), t -> t <> '')")
