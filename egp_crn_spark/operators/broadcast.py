"""One row bound for every driver-side collect or broadcast of a
dimension side (the reference holds the whole right table of each join
in every process, helpers.py:155-163). A side over the bound takes its
caller's same-rows fallback instead of exhausting driver memory."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Most rows any operator collects to the driver or broadcasts.
BROADCAST_MAX_ROWS = 200_000


def collect_small(df: DataFrame) -> pd.DataFrame | None:
    """``df`` as one pandas frame, or None when it has more than
    BROADCAST_MAX_ROWS rows. One bounded pass: no separate count job."""
    pdf = df.limit(BROADCAST_MAX_ROWS + 1).toPandas()
    return None if len(pdf) > BROADCAST_MAX_ROWS else pdf


def fits_broadcast(df: DataFrame) -> bool:
    """``df`` has at most BROADCAST_MAX_ROWS rows (a bounded count)."""
    return df.limit(BROADCAST_MAX_ROWS + 1).count() <= BROADCAST_MAX_ROWS


def join_hint(df: DataFrame, small: bool) -> DataFrame:
    """``df`` hinted for a broadcast when ``small``, else for a shuffle-
    hash join, which neither the planner nor AQE turns back into a
    broadcast. Spark pulls a join hint up through unary operators
    (select, withColumn, distinct) into the join they feed."""
    return F.broadcast(df) if small else df.hint("shuffle_hash")
