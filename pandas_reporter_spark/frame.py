"""CensusFrame: metadata-aware wrapper over a Spark DataFrame.

The reference's `CensusDataFrame` is-a pandas.DataFrame carrying a
per-column metadata schema (seven keys: name/code/title/code_title/
indent/index/position — reference censusreporter.py:193-253) plus the
estimate/margin pairing convention (`X` ↔ `X_m90`). Spark DataFrames are
immutable lazy plans, so the engine keeps that metadata in a thin
driver-side wrapper and resolves it BEFORE handing Catalyst the plan —
every wrapper method compiles to plain Column expressions, keeping the
whole layer optimizer-transparent (SURVEY §3.4).

Metadata lives in the wrapper dict (source of truth) and is mirrored
into StructField.metadata on materialized selects where cheap; Spark
drops field metadata through many expressions, so the wrapper never
relies on Catalyst carrying it (SURVEY §7 hard-problem #1).

Reference behavior pins implemented here:
- margin-carrying projection (test_basic.py:176-195): selecting
  estimate columns silently pulls their `_m90` partners, est-then-margin.
- lookup by position int or 3-digit census index (test_basic.py:21-27).
- suffix indexing df['001'] (Pandas Reporter Examples.ipynb:256).
- renamed views coded/titled/ct_columns (ipynb:135-139).
- `.m90` / `.value` margin accessors (test_basic.py:27-28).
- derived measures sum_m/ratio/proportion/product/add_rse
  (test_basic.py:90-133) via functions.moe.
- grouped sum with RSS margins + grouped mean (test_basic.py:197-207).
"""

from __future__ import annotations

from typing import Iterable, Optional, Sequence, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pandas_reporter_spark.functions import moe as moe_fns
from pandas_reporter_spark.tables import davg, dsum, local_frame

MARGIN_SUFFIX = "_m90"


def is_margin(name: str) -> bool:
    return name.endswith(MARGIN_SUFFIX)


def margin_name(est: str) -> str:
    return est + MARGIN_SUFFIX


def estimate_name(margin: str) -> str:
    return margin[: -len(MARGIN_SUFFIX)] if is_margin(margin) else margin


class CensusSeries:
    """A named column + its frame: carries census metadata and the
    `.m90` / `.value` accessors of the reference's CensusSeries."""

    def __init__(self, frame: "CensusFrame", name: str):
        self._frame = frame
        self.name = name

    @property
    def col(self) -> Column:
        return F.col(self.name)

    @property
    def census_code(self) -> Optional[str]:
        return self._frame.meta_for(self.name).get("code")

    @property
    def census_title(self) -> Optional[str]:
        return self._frame.meta_for(self.name).get("title")

    @property
    def m90(self) -> "CensusSeries":
        """Margin series for an estimate series (test_basic.py:27)."""
        m = margin_name(self.name)
        if m not in self._frame.df.columns:
            raise KeyError(f"no margin column for {self.name!r}")
        return CensusSeries(self._frame, m)

    @property
    def value(self) -> "CensusSeries":
        """Estimate series for a margin series (test_basic.py:28)."""
        if not is_margin(self.name):
            return self
        return CensusSeries(self._frame, estimate_name(self.name))

    def sum(self) -> float:
        """Eager scalar sum (test parity with the reference's pins)."""
        return self._frame.df.agg(F.sum(self.name)).collect()[0][0]


class _ILoc:
    """Positional row access, the display slice of the reference
    notebook (`df.iloc[:3].T`, Pandas Reporter Examples.ipynb:656).

    Supports non-negative, step-1 slices only: `[:n]` compiles to
    `limit(n)` and `[a:b]` to `offset(a).limit(b-a)` — plain plan
    nodes, no collect. Spark frames are unordered, so (as with
    `head`) the rows are "some n rows" unless upstream sorted;
    that matches the reference's display-only use. Anything pandas
    allows beyond that (negative indices, steps, boolean masks,
    column tuples) raises rather than silently approximating.
    """

    def __init__(self, frame: "CensusFrame"):
        self._frame = frame

    def __getitem__(self, key) -> "CensusFrame":
        if not isinstance(key, slice):
            raise TypeError(
                "iloc supports row slices only (display idiom); "
                f"got {type(key).__name__}"
            )
        if key.step not in (None, 1):
            raise ValueError("iloc slices must have step 1")
        start = key.start or 0
        if start < 0 or (key.stop is not None and key.stop < 0):
            raise ValueError("iloc does not support negative positions")
        df = self._frame.df
        if start:
            df = df.offset(start)
        if key.stop is not None:
            if key.stop <= start:
                return self._frame._wrap(df.limit(0))
            df = df.limit(key.stop - start)
        return self._frame._wrap(df)


class CensusFrame:
    """Wrapper: Spark DataFrame + per-column census metadata + release."""

    def __init__(
        self,
        df: DataFrame,
        schema_meta: Optional[Iterable[dict]] = None,
        release: Optional[dict] = None,
    ):
        self.df = df
        self.release = release or {}
        # name -> seven-key metadata dict (missing keys tolerated)
        self.meta: dict[str, dict] = {}
        if schema_meta:
            for i, m in enumerate(schema_meta):
                name = m.get("name") or m.get("code")
                if name is None:
                    continue
                mm = dict(m)
                mm.setdefault("position", i)
                self.meta[name] = mm

    # -- metadata resolution -------------------------------------------------

    def meta_for(self, name: str) -> dict:
        return self.meta.get(name, {})

    def _resolve(self, key: Union[int, str]) -> str:
        """Column name from position int, 3-digit census index, code, or
        literal name (reference lookup/suffix idioms, test_basic.py:21-27,
        ipynb:256)."""
        cols = self.df.columns
        if isinstance(key, int):
            for name, m in self.meta.items():
                if m.get("position") == key and name in cols:
                    return name
            if 0 <= key < len(cols):
                return cols[key]
            raise KeyError(f"no column at position {key}")
        if key in cols:
            return key
        for name, m in self.meta.items():
            if name in cols and (m.get("index") == key or m.get("code") == key):
                return name
        # suffix match: df['001'] -> B17001001 (estimate, not margin)
        suffix_hits = [c for c in cols if c.endswith(key) and not is_margin(c)]
        if len(suffix_hits) == 1:
            return suffix_hits[0]
        raise KeyError(f"cannot resolve column {key!r}")

    def lookup(self, key: Union[int, str]) -> CensusSeries:
        return CensusSeries(self, self._resolve(key))

    def __getattr__(self, name: str):
        # df.B01001042 attribute access (test_basic.py:26)
        df = self.__dict__.get("df")
        if df is not None and not name.startswith("_") and name in df.columns:
            return CensusSeries(self, name)
        raise AttributeError(name)

    def __getitem__(self, key):
        if isinstance(key, (list, tuple)):
            return self.select(list(key))
        return self.lookup(key)

    # -- margin-carrying projection (R1) --------------------------------------

    def carry_columns(self, cols: Sequence[str]) -> list[str]:
        """Expand a selection to include each estimate's margin column,
        est-then-margin order (pinned list at test_basic.py:186)."""
        out: list[str] = []
        have = set(self.df.columns)
        for c in cols:
            name = self._resolve(c) if c not in have else c
            out.append(name)
            m = margin_name(name)
            if not is_margin(name) and m in have and m not in cols:
                out.append(m)
        return out

    def select(self, cols: Sequence[str]) -> "CensusFrame":
        expanded = self.carry_columns(cols)
        return self._wrap(self.df.select(*expanded))

    def _wrap(self, df: DataFrame) -> "CensusFrame":
        out = CensusFrame(df, release=self.release)
        out.meta = {k: v for k, v in self.meta.items() if k in df.columns}
        return out

    # -- pandas-parity conveniences -------------------------------------------

    @property
    def columns(self) -> list[str]:
        return self.df.columns

    @property
    def shape(self) -> tuple[int, int]:
        """(n_rows, n_cols) — eager count, the pandas contract; the
        reference API is eager throughout so a switcher expects this."""
        return (self.df.count(), len(self.df.columns))

    def to_pandas(self):
        """Driver-side materialization (Arrow transfer). The escape
        hatch for reference users handing results to matplotlib etc. —
        display-sized frames only, like any toPandas."""
        return self.df.toPandas()

    # -- display idioms (reference Pandas Reporter Examples.ipynb:656) ---------

    def head(self, n: int = 5) -> "CensusFrame":
        """First-n display idiom; compiles to `limit(n)` (no collect).
        Rows are "some n" unless upstream sorted — Spark frames are
        unordered, matching the idiom's display-only contract."""
        return self._wrap(self.df.limit(n))

    @property
    def iloc(self) -> _ILoc:
        return _ILoc(self)

    # At most this many rows may be transposed; .T turns rows into
    # columns, which is driver-side by construction.
    _T_MAX_ROWS = 100

    @property
    def T(self) -> "CensusFrame":
        """Transpose for display (`df.iloc[:3].T`, ipynb:656): column
        names become a `column` string column, each original row becomes
        a string column "0".."n-1".

        Transposing swaps the axes, so the row count becomes a column
        count — inherently driver-sized. This collects (the one
        sanctioned collect in the wrapper: display idiom, bounded) and
        refuses frames over _T_MAX_ROWS rows rather than OOM-ing the
        driver; values are stringified since a transposed row mixes the
        original column types.
        """
        rows = self.df.limit(self._T_MAX_ROWS + 1).collect()
        if len(rows) > self._T_MAX_ROWS:
            raise ValueError(
                f".T is a display idiom for <= {self._T_MAX_ROWS} rows; "
                "slice first (df.iloc[:n].T or df.head(n).T)"
            )
        cols = self.df.columns
        data = [
            tuple([c] + [None if r[c] is None else str(r[c]) for r in rows])
            for c in cols
        ]
        out_names = ["column"] + [str(i) for i in range(len(rows))]
        schema = ", ".join(f"`{n}` string" for n in out_names)
        tdf = local_frame(self.df.sparkSession, data, schema)
        return CensusFrame(tdf, release=self.release)

    # -- renamed views (R6) ----------------------------------------------------

    def _renamed(self, keyfn) -> "CensusFrame":
        mapping = {}
        for c in self.df.columns:
            m = self.meta_for(c)
            new = keyfn(c, m)
            if new and new != c:
                mapping[c] = new
        out = CensusFrame(self.df.withColumnsRenamed(mapping), release=self.release)
        out.meta = {mapping.get(k, k): v for k, v in self.meta.items()}
        return out

    @property
    def coded_columns(self) -> "CensusFrame":
        return self._renamed(lambda c, m: m.get("code"))

    @property
    def titled_columns(self) -> "CensusFrame":
        return self._renamed(lambda c, m: m.get("title"))

    @property
    def ct_columns(self) -> "CensusFrame":
        return self._renamed(lambda c, m: m.get("code_title"))

    # -- derived measures (M1-M5) ----------------------------------------------

    def sum_m(self, *cols: str):
        return moe_fns.sum_m(*cols)

    def ratio(self, n: str, d: str):
        return moe_fns.ratio(n, margin_name(n), d, margin_name(d))

    def proportion(self, n: str, d: str):
        return moe_fns.proportion(n, margin_name(n), d, margin_name(d))

    def product(self, a: str, b: str):
        return moe_fns.product(a, margin_name(a), b, margin_name(b))

    def with_measure(self, name: str, est: Column, margin: Column) -> "CensusFrame":
        """`odf['r'], odf['r_m90'] = df.ratio(...)` analog."""
        return self._wrap(
            self.df.withColumn(name, est).withColumn(margin_name(name), margin)
        )

    def add_rse(self, col: str) -> "CensusFrame":
        """Adds `{col}_rse` (test_basic.py:97; div-by-zero → NULL here,
        pandas `inf` — documented divergence SURVEY §4.4)."""
        return self._wrap(
            self.df.withColumn(
                f"{col}_rse", moe_fns.rse(F.col(col), F.col(margin_name(col)))
            )
        )

    # -- grouped aggregation (R2/R3) --------------------------------------------

    def _pairs(self) -> list[str]:
        return [
            c
            for c in self.df.columns
            if not is_margin(c) and margin_name(c) in self.df.columns
        ]

    @staticmethod
    def _rss_sum(m: str) -> Column:
        """Σ m² as TWO exact long sums — ⌊m²⌋ plus the fraction in 1e-8
        units — recombined once (see tables.dsum for the cross-engine
        quantizer argument: every op here is a double/long instruction
        both engines evaluate identically, and long sums are exact and
        commutative, so the result is partition-count independent).

        Why split instead of one scaled sum: a single floor(m²·10^s)
        long trades precision against overflow headroom THROUGH THE
        SAME dial — centi-units (round 3) drifted the RSS 1e-4 from
        truth, micro-units (first round-4 attempt) saturated 2^63 at
        sf0.1 price-scale margins (measured Σm²·1e6 = 2.2e19 ungrouped;
        Spark's non-ANSI long cast saturates SILENTLY where DuckDB
        errors). Splitting decouples them: the integer sum overflows
        only at Σm² ≥ 2^63 (~9.2e18 — 1e6× more headroom, enough for
        ~1e10 rows of price-scale margins; tests/test_frame.py pins the
        guard), while the fraction sum (≤1e8/row) carries 5e-9/row
        quantization error — three decades under the engine's 1e-6
        precision bar. Cost: two codegen'd long aggregates instead of
        one.

        Oracle twin: census_queries._ORACLE_RSS.
        """
        sq = F.col(m) * F.col(m)
        ip = F.floor(sq)
        int_sum = F.sum(ip.cast("bigint")).cast("double")
        frac_sum = F.sum(
            F.floor((sq - ip) * F.lit(1e8) + F.lit(0.5)).cast("bigint")
        ).cast("double")
        return int_sum + frac_sum / F.lit(1e8)

    def group_sum(self, *keys: str) -> "CensusFrame":
        """groupby(k).sum(): estimates summed, margins root-sum-squared
        (`_sum` / `_sum_rs` flat suffixes for pandas' multilevel header —
        executed output ipynb:1047-1056)."""
        aggs = []
        for e in self._pairs():
            m = margin_name(e)
            aggs.append(dsum(e).alias(f"{e}_sum"))
            aggs.append(F.sqrt(self._rss_sum(m)).alias(f"{m}_sum_rs"))
        return CensusFrame(self.df.groupBy(*keys).agg(*aggs), release=self.release)

    def group_mean(self, *keys: str) -> "CensusFrame":
        """groupby(k).mean(). Margin-of-mean is underdetermined upstream
        (test_basic.py:203-204 takes it 'on faith'); we define est = avg,
        MOE = sqrt(Σ m²)/n and document that choice (SURVEY R3)."""
        aggs = []
        for e in self._pairs():
            m = margin_name(e)
            aggs.append(davg(e).alias(f"{e}_mean"))
            aggs.append(
                (F.sqrt(self._rss_sum(m)) / F.count(F.col(m))).alias(
                    f"{m}_mean_rs"
                )
            )
        return CensusFrame(self.df.groupBy(*keys).agg(*aggs), release=self.release)
