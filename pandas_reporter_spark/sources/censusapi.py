"""Census Data API adapter: catalog (S8), variables (S9), fetch (S10).

Recovered contract (reference test_censusapi.py:15-34; the module
itself is absent from the snapshot — its __init__ imports `.censusapi`
which doesn't exist):

- CensusApi().search_datasets(text) over the data.json catalog
- api.get_dataset(identifier) → Dataset with .variables metadata
- ds.fetch_url(*vars, geo_in=, geo_for=) → API GET url
- ds.fetch(...) → JSON array-of-arrays, row 0 = header
- ds.fetch_dataframe(...) → DataFrame; GEOID synthesized as
  '05000US' + state + county when both FIPS columns are present
  (FIXTURES.md §4, notebook cell-5 output shape)

All network is behind an injectable fetcher; catalog/response fixtures
live in tests. The array-of-arrays → DataFrame step builds an explicit
StructType (numeric columns double, geo columns string) before the
frame is built (`tables.local_frame`) — never inference on API data.
"""

from __future__ import annotations

import json
import urllib.request
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from pandas_reporter_spark.tables import local_frame

CATALOG_URL = "https://api.census.gov/data.json"

#: columns that stay strings in fetch_dataframe (geo identifiers).
_GEO_COLS = {"GEOID", "NAME", "GEONAME", "state", "county", "place", "tract"}


def _default_fetcher(url: str):  # pragma: no cover - network
    with urllib.request.urlopen(url) as r:
        return json.loads(r.read().decode())


class Dataset:
    """One catalog entry + its variables metadata + the fetch path."""

    def __init__(self, meta: dict, fetcher: Callable = _default_fetcher):
        self.meta = meta
        self._fetcher = fetcher
        self._variables: Optional[dict] = None

    @property
    def identifier(self) -> str:
        return self.meta.get("identifier", "")

    @property
    def title(self) -> str:
        return self.meta.get("title", "")

    @property
    def api_url(self) -> str:
        dist = self.meta.get("distribution", [])
        return dist[0]["accessURL"] if dist else ""

    @property
    def variables_url(self) -> str:
        return self.meta.get("c_variablesLink", self.api_url + "/variables.json")

    @property
    def variables(self) -> dict:
        """S9: variable metadata, lazily fetched and cached."""
        if self._variables is None:
            self._variables = self._fetcher(self.variables_url).get(
                "variables", {}
            )
        return self._variables

    def search_variables(self, text: str) -> list[tuple[str, str]]:
        """S9: case-insensitive label/concept search."""
        t = text.lower()
        out = []
        for code, meta in self.variables.items():
            hay = f"{meta.get('label','')} {meta.get('concept','')}".lower()
            if t in hay:
                out.append((code, meta.get("label", "")))
        return sorted(out)

    def fetch_url(self, *variables: str, geo_in: str = "", geo_for: str = "") -> str:
        q = f"{self.api_url}?get={','.join(variables)}"
        if geo_for:
            q += f"&for={geo_for}"
        if geo_in:
            q += f"&in={geo_in}"
        return q

    def fetch(self, *variables, geo_in: str = "", geo_for: str = "") -> list[list]:
        """S10: raw array-of-arrays (row 0 = header)."""
        return self._fetcher(self.fetch_url(*variables, geo_in=geo_in, geo_for=geo_for))

    def fetch_dataframe(
        self, spark: SparkSession, *variables, geo_in: str = "", geo_for: str = ""
    ) -> DataFrame:
        """S10: typed DataFrame; GEOID synthesized from state+county."""
        raw = self.fetch(*variables, geo_in=geo_in, geo_for=geo_for)
        header, rows = raw[0], raw[1:]
        fields = [
            StructField(
                h, StringType() if h in _GEO_COLS else DoubleType(), True
            )
            for h in header
        ]
        def _num(v):
            # Census numeric columns carry annotation sentinels
            # ('N', '(X)', '*****', ...): degrade to NULL cells, never
            # fail the whole frame build on one annotated value
            if v in (None, ""):
                return None
            try:
                return float(v)
            except (TypeError, ValueError):
                return None

        typed = [
            [(v if h in _GEO_COLS else _num(v)) for h, v in zip(header, r)]
            for r in rows
        ]
        df = local_frame(spark, typed, StructType(fields))
        if "state" in header and "county" in header and "GEOID" not in header:
            df = df.withColumn(
                "GEOID", F.concat(F.lit("05000US"), F.col("state"), F.col("county"))
            )
        return df


class CensusApi:
    """S8: the data.json catalog."""

    def __init__(self, fetcher: Callable = _default_fetcher, catalog: Optional[dict] = None):
        self._fetcher = fetcher
        self._catalog = catalog

    @property
    def metadata(self) -> dict:
        if self._catalog is None:
            self._catalog = self._fetcher(CATALOG_URL)
        return self._catalog

    def datasets(self) -> list[Dataset]:
        return [Dataset(d, self._fetcher) for d in self.metadata.get("dataset", [])]

    def search_datasets(self, text: str) -> list[Dataset]:
        t = text.lower()
        return [
            d
            for d in self.datasets()
            if t in f"{d.title} {d.meta.get('description','')}".lower()
        ]

    def get_dataset(self, identifier: str) -> Dataset:
        for d in self.datasets():
            if d.identifier == identifier or d.identifier.endswith(identifier):
                return d
        raise KeyError(f"no dataset {identifier!r} in catalog")
