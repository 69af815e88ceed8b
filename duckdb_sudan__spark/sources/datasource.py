"""PySpark Python DataSource for the sudan providers — the Spark-native
equivalent of a DuckDB table function.

`spark.read.format("sudan").options(provider=..., ...)` plans one
input partition per country: on a cluster, each (country) fetch runs
on its own executor — the 3-phase Bind/Init/Execute model of the
reference (wb_functions.cpp:44-280) maps to
schema()/partitions()/read(partition).

Each provider is declared once, in providers/api.py's TABLE_FUNCTIONS;
this module holds no per-provider table. `SudanDataSource.schema()`
reads the provider's schema from it, and `SudanReader.__init__` runs
the same `api.bind` as the api functions (provider name, required
parameters with their option defaults, country codes), raising the
same "SUDAN: ..." messages — the reference's Bind errors instead of a
raw executor-side KeyError.

Year-range pushdown is driven by the DataSource filter-pushdown API:
`SudanReader.pushFilters` absorbs year >=/>/<=/</== predicates from
the WHERE clause into a YearFilter (the Spark analogue of
filter_pushdown.cpp:6-99 extracting the range from duckdb's
TableFilterSet) and returns every other filter as residual for
Catalyst to evaluate. Explicit `year_start`/`year_end` options are
still honored and combined (intersection) with pushed filters.

Offline mode (default: `offline=true`) serves the deterministic
embedded samples; `offline=false` runs the per-country fetch
(`api.rows`) on the EXECUTOR that owns the country partition, falling
back to that country's samples when the fetch yields nothing. The
optional `base_url` option replaces the scheme+host of every provider
URL for that read only.

The reader runs in Python worker processes, which have no session
conf: live reads here use the default HttpSettings, not the
``spark.sudan.http.*`` keys the api functions honour.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType

from duckdb_sudan__spark.providers import api
from duckdb_sudan__spark.providers.pushdown import YearFilter

_YEAR_COLUMN = ("year",)


class _CountryPartition(InputPartition):
    def __init__(self, iso3: str):
        self.iso3 = iso3


class SudanReader(DataSourceReader):
    def __init__(self, options: dict):
        options = dict(options)
        self.provider = options.get("provider", "worldbank")
        countries = options.get("countries")
        # bind-phase validation on the driver — the api functions' bind
        self.params, self.countries = api.bind(self.provider, options, countries.split(",") if countries else None)
        self.offline = str(options.get("offline", "true")).lower() != "false"
        self.base_url = options.get("base_url") or None
        self.year_filter = YearFilter(int(options.get("year_start", 0)), int(options.get("year_end", 0)))

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Absorb year-range predicates from the WHERE clause; every
        other filter is returned unhandled (Catalyst keeps evaluating
        it). Pushed bounds intersect with explicit year_start/year_end
        options — the same range-extraction contract as the
        reference's filter_pushdown.cpp."""
        start, end = self.year_filter.year_start, self.year_filter.year_end

        def tighten_start(v: int) -> None:
            nonlocal start
            start = max(start, v)

        def tighten_end(v: int) -> None:
            nonlocal end
            end = min(end, v) if end > 0 else v

        # a predicate is absorbed ONLY when its tightened bound stays >= 1:
        # YearFilter uses 0 as the "unbounded" sentinel, so folding e.g.
        # `year < 1` / `year <= 0` / `year = 0` into the struct would turn
        # an excluding predicate into no filter at all (parse_* map
        # unparseable years to 0, so `year = 0` is a realistic query).
        # Degenerate bounds stay residual and Catalyst evaluates them.
        residual: list[Filter] = []
        for f in filters:
            handled = False
            if getattr(f, "attribute", None) == _YEAR_COLUMN and isinstance(getattr(f, "value", None), int):
                if isinstance(f, GreaterThanOrEqual) and f.value >= 1:
                    tighten_start(f.value)
                    handled = True
                elif isinstance(f, GreaterThan) and f.value + 1 >= 1:
                    tighten_start(f.value + 1)
                    handled = True
                elif isinstance(f, LessThanOrEqual) and f.value >= 1:
                    tighten_end(f.value)
                    handled = True
                elif isinstance(f, LessThan) and f.value - 1 >= 1:
                    tighten_end(f.value - 1)
                    handled = True
                elif isinstance(f, EqualTo) and f.value >= 1:
                    tighten_start(f.value)
                    tighten_end(f.value)
                    handled = True
            if not handled:
                residual.append(f)
        # eager (not a generator): the absorbed range must be visible in
        # self.year_filter before partitions()/read() are planned
        self.year_filter = YearFilter(start, end)
        return residual

    def partitions(self):
        # one fetch unit per country — the unit of parallelism on a cluster
        return [_CountryPartition(c) for c in self.countries]

    def read(self, partition: _CountryPartition) -> Iterator[tuple]:
        # base_url travels with the reader, not through the module-level
        # PROVIDER_BASES: Python workers are reused across reads
        yield from api.rows(
            self.provider, self.params, partition.iso3, self.year_filter, self.offline, base=self.base_url
        )


class SudanStreamReader(SimpleDataSourceStreamReader):
    """Streaming form of the provider table function:
    `spark.readStream.format("sudan")` emits provider rows
    incrementally BY YEAR — the natural refresh unit for indicator
    APIs (a production deployment polls for newly published years; the
    offline form replays the embedded sample's year sequence
    deterministically, which is what the rows-only driver entry and
    the batch-equivalence test pin). With `offline=false` the rows come
    from the same per-country live fetch as the batch reader, taken
    once when the stream is planned.

    Offset = {"y": <index into the sorted year list>} — a restart from
    a checkpoint resumes at the first unemitted year. `read(start)`
    returns ALL pending years by default so `trigger(availableNow)`
    drains the source in one batch (the Simple reader contract treats
    one read() as one batch); `years_per_batch` trickles N years per
    micro-batch for incremental-mode tests and demos. Bind-phase
    validation is the same SudanReader path, so
    `readStream.format("sudan").option("provider", "nope")` raises the
    reference's Bind error at plan time."""

    def __init__(self, options: dict):
        # the batch reader's bind and per-country rows, offline or live
        bound = SudanReader(options)
        self._per_batch = int(options.get("years_per_batch", 0) or 0)
        year_idx = api.TABLE_FUNCTIONS[bound.provider].year_idx
        rows = [r for iso3 in bound.countries for r in bound.read(_CountryPartition(iso3))]
        self._years = sorted({r[year_idx] for r in rows})
        self._by_year = {y: [r for r in rows if r[year_idx] == y] for y in self._years}

    def initialOffset(self) -> dict:
        return {"y": 0}

    def read(self, start: dict):
        i = start["y"]
        if i >= len(self._years):
            return iter([]), {"y": i}
        end = len(self._years) if self._per_batch <= 0 else min(i + self._per_batch, len(self._years))
        out = []
        for y in self._years[i:end]:
            out.extend(self._by_year[y])
        return iter(out), {"y": end}

    def commit(self, end: dict) -> None:
        pass


class SudanDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "sudan"

    def schema(self) -> StructType:
        return api.table_function(self.options.get("provider", "worldbank")).schema

    def reader(self, schema) -> SudanReader:
        return SudanReader(self.options)

    def simpleStreamReader(self, schema) -> SudanStreamReader:
        return SudanStreamReader(self.options)


def register_sudan_datasource(spark) -> None:
    try:
        # runtime SQL conf, read at plan time: Spark refuses to plan a
        # pushFilters-bearing Python source while this is false
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass  # conf locked down (e.g. Connect policy) — session.py sets it at build
    spark.dataSource.register(SudanDataSource)
