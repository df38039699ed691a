"""CR-JSON → wide CensusFrame pivot (S3) + materializers (S4-S6).

Recovered contract (reference censusreporter.py:178-282):

- column codes sorted; codes containing '.' are section headers, not
  data columns — skipped (`:219`)
- titles via an indent stack: the stack grows/shrinks to the column's
  indent, slot `indent` gets the name with ':' stripped, title = the
  joined stack (`:221-242`)
- each estimate column is immediately followed by its `<code>_m90`
  margin ("Margins for …" names), positions interleaved (`:244-253`)
- geoid + geography name lead every row; single-column tables return
  scalars from itemgetter — re-wrapped as lists (`:269-273`)
- row order = iteration order of data keys; release dict rides along

Two ingest paths share the column contract:

- `cr_frame` — ONE response, driver-side pivot (a response is a few
  hundred rows × columns: metadata scale), then a local relation
  (`tables.local_frame`: one Arrow table, no parallelized RDD).
- `cr_bulk_frame` — MANY responses: `spark.read.json` over the cache
  dir with an explicit Map-typed schema (one record per file via
  multiLine), `explode` of the geoid map and a wide map-extract
  projection, all executor-side. Column layout/titles come from ONE
  response's `tables` section (every response for a table carries
  identical metadata). This is the path that scales to a cache dir of
  millions of responses; tests pin it frame-equal to per-file
  `cr_frame` pivots.
"""

from __future__ import annotations

from operator import itemgetter
from typing import Optional, Sequence, Tuple, Union

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from pandas_reporter_spark.frame import CensusFrame
from pandas_reporter_spark.sources.url import CensusReporterURL, fetch_json
from pandas_reporter_spark.tables import local_frame


def _lead_col(name: str, position: int) -> dict:
    return {
        "name": name,
        "code": name,
        "title": name,
        "code_title": name,
        "indent": 0,
        "index": "   ",
        "position": position,
    }


def cr_columns(data: dict, table_id: str) -> list[dict]:
    """Seven-key column metadata list: geoid, name, then per sorted
    code an (estimate, margin) pair."""
    columns = [_lead_col("geoid", 0), _lead_col("name", 1)]
    title_stack: list[str] = []
    table_cols = data["tables"][table_id]["columns"]
    column_codes = sorted(c for c in table_cols if "." not in c)
    for code in column_codes:
        name = table_cols[code]["name"]
        indent = table_cols[code]["indent"]
        index = code[-3:]
        if len(title_stack) <= indent:
            title_stack.extend([""] * (indent - len(title_stack) + 1))
        else:
            title_stack = title_stack[: indent + 1]
        title_stack[indent] = name.replace(":", "")
        title = " ".join(title_stack)
        columns.append(
            {
                "name": name,
                "title": title,
                "code": code,
                "code_title": f"{code} {title}",
                "indent": indent,
                "index": index,
                "position": len(columns),
            }
        )
        columns.append(
            {
                "name": f"Margins for {name}",
                "title": f"Margins for {title}",
                "code": f"{code}_m90",
                "code_title": f"Margins for {code} {title}",
                "indent": indent,
                "index": index,
                "position": len(columns),
            }
        )
    return columns


def cr_rows(data: dict, table_id: str) -> Tuple[list[list], list[dict], dict]:
    """(rows, columns, release) — the reference's get_cr_rows."""
    columns = cr_columns(data, table_id)
    column_codes = [
        c["code"] for c in columns[2:] if not c["code"].endswith("_m90")
    ]
    row_ig = itemgetter(*column_codes)
    rows = []
    for geo in data["data"]:
        row = [geo, data["geography"][geo]["name"]]
        ests = row_ig(data["data"][geo][table_id]["estimate"])
        errs = row_ig(data["data"][geo][table_id]["error"])
        if not isinstance(ests, (list, tuple)):  # single-column table
            ests = [ests]
        if not isinstance(errs, (list, tuple)):
            errs = [errs]
        for e, m in zip(ests, errs):
            row.append(None if e is None else float(e))
            row.append(None if m is None else float(m))
        rows.append(row)
    assert len(rows) == 0 or len(columns) == len(rows[0])
    return rows, columns, data.get("release", {})


def cr_frame(spark: SparkSession, data: dict, table_id: str) -> CensusFrame:
    """S5: materialize the pivot as a CensusFrame with explicit schema
    (schema-from-API is built BEFORE the frame — SURVEY §1.4)."""
    rows, columns, release = cr_rows(data, table_id)
    fields = [
        StructField(
            c["code"], StringType() if c["position"] < 2 else DoubleType(), True
        )
        for c in columns
    ]
    df = local_frame(spark, rows, StructType(fields))
    out = CensusFrame(df, release=release)
    out.meta = {c["code"]: c for c in columns}
    return out


def cr_row_generator(data: dict, table_id: str):
    """S4: the reference's row-generator protocol — header then rows."""
    rows, columns, _ = cr_rows(data, table_id)
    yield [c["code"] for c in columns]
    yield from rows


#: Explicit CR-JSON schema for the bulk reader. Dynamic-key objects
#: (geoids, column codes) are MAPS, not inferred structs — inference
#: over millions of responses would union every geoid into one giant
#: struct and re-scan the corpus to do it.
CR_BULK_SCHEMA = StructType(
    [
        StructField("release", MapType(StringType(), StringType())),
        StructField(
            "tables",
            MapType(
                StringType(),
                StructType(
                    [
                        StructField("title", StringType()),
                        StructField(
                            "columns",
                            MapType(
                                StringType(),
                                StructType(
                                    [
                                        StructField("name", StringType()),
                                        StructField("indent", IntegerType()),
                                    ]
                                ),
                            ),
                        ),
                    ]
                ),
            ),
        ),
        StructField(
            "data",
            MapType(
                StringType(),
                MapType(
                    StringType(),
                    StructType(
                        [
                            StructField(
                                "estimate", MapType(StringType(), DoubleType())
                            ),
                            StructField(
                                "error", MapType(StringType(), DoubleType())
                            ),
                        ]
                    ),
                ),
            ),
        ),
        StructField(
            "geography",
            MapType(
                StringType(),
                StructType([StructField("name", StringType())]),
            ),
        ),
    ]
)


def cr_bulk_frame(
    spark: SparkSession,
    paths: Union[str, Sequence[str]],
    table_id: str,
) -> CensusFrame:
    """S3 scale path: many CR-JSON responses → ONE wide CensusFrame.

    `paths` is a cache directory, glob, or explicit file list; each
    file is one API response (multiLine → one record per file). The
    shaping is all executor-side Column work: `explode` the per-geoid
    map, extract the per-table estimate/error maps, then a wide
    projection of map lookups — the same sorted-code + interleaved
    `_m90` layout `cr_frame` produces (same `cr_columns` contract).
    The `tables` metadata (tiny, identical in every response for a
    table) is read from one record driver-side to fix the column list;
    data rows never touch the driver. Responses partition by file, so
    a million-response cache dir scans like any other distributed
    source; one geoid appearing in several responses yields one row
    per response (dedup is the caller's policy, e.g. dedup.keep_first).
    """
    if isinstance(paths, str):
        paths = [paths]
    raw = (
        spark.read.schema(CR_BULK_SCHEMA)
        .option("multiLine", "true")
        .json(list(paths))
    )
    meta = (
        raw.select(F.col("tables")[table_id].alias("t"), "release")
        .filter(F.col("t").isNotNull())
        .first()
    )
    if meta is None:
        raise KeyError(f"table {table_id!r} not found in any response")
    tcols = {
        code: {"name": c["name"], "indent": c["indent"]}
        for code, c in meta["t"]["columns"].items()
    }
    columns = cr_columns({"tables": {table_id: {"columns": tcols}}}, table_id)
    codes = [
        c["code"] for c in columns[2:] if not c["code"].endswith("_m90")
    ]
    per_geo = (
        raw.select(
            F.explode("data").alias("geoid", "by_table"),
            F.col("geography"),
        )
        .select(
            "geoid",
            F.col("geography")[F.col("geoid")]["name"].alias("name"),
            F.col("by_table")[table_id]["estimate"].alias("_est"),
            F.col("by_table")[table_id]["error"].alias("_err"),
        )
        .filter(F.col("_est").isNotNull())
    )
    wide = per_geo.select(
        "geoid",
        "name",
        *[
            col
            for code in codes
            for col in (
                F.col("_est")[code].alias(code),
                F.col("_err")[code].alias(f"{code}_m90"),
            )
        ],
    )
    out = CensusFrame(wide, release=dict(meta["release"] or {}))
    out.meta = {c["code"]: c for c in columns}
    return out


def get_cr_dataframe(
    spark: SparkSession,
    table_id: str,
    summary_level: str,
    geoid: str,
    cache_dir: Optional[str] = None,
    fetcher=None,
) -> CensusFrame:
    """S6: url → fetch (cache/fixture) → pivot → CensusFrame."""
    u = CensusReporterURL(f"censusreporter:{table_id}/{summary_level}/{geoid}")
    data = fetch_json(u, cache_dir=cache_dir, fetcher=fetcher)
    return cr_frame(spark, data, table_id)
