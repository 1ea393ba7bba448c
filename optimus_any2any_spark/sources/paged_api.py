"""Paged-API source as a real Spark 4 Python DataSource.

The reference's API sources page through results on the driver —
Salesforce walks ``NextRecordsURL`` with concurrent page fetches
(ext/salesforce/source.go:80-148), Google Analytics advances a
limit/offset cursor (ext/googleanalytics/source.go:59-98). SURVEY.md
§2.1 maps these to "a custom PySpark DataSource (Spark 4 Python data
source API)" — this module is that mapping: each *page* becomes an
``InputPartition``, so page fetches run on executors in parallel and
results are rows immediately (no driver-side accumulation, no
collect-then-parallelize round trip).

Usage::

    spark.dataSource.register(PagedApiDataSource)
    df = (spark.read.format("paged_api")
          .schema("id BIGINT, name STRING")
          .option("url", "file:///data/records.ndjson")   # or https://…
          .option("page_size", "1000")
          .option("num_pages", "8")
          .load())

Pagination protocol: the endpoint must accept ``offset``/``limit``
(query params for http(s), line ranges for file://). ``file://`` reads
slice an NDJSON file by line range — the offline stand-in used by tests
(no network in this environment); ``http(s)://`` appends
``?offset=N&limit=M`` exactly like the GA source's cursor.

Scale notes: one partition per page keeps executor memory at
page-size; `num_pages` partitions give the scheduler its parallelism
(SURVEY §2.1's "parallel pages = spark.range(npages).mapInPandas" —
but as a first-class source with a schema, pushable into any pipeline).
The LAST planned partition chases subsequent pages until a short/empty
page, so rows beyond ``num_pages*page_size`` are never silently dropped
— matching the reference sources, which page until exhaustion.

Salesforce's NextRecordsURL protocol (ext/salesforce/source.go:80-148)
is the ``sf_chain`` source below: ONE sequential discovery query reads
totalSize + the batch size encoded in the NextRecordsURL suffix, then
every remaining page URL is *computable* (template-%d) and pages fetch
concurrently on executors — the reference's sequential-discovery +
concurrent-fetch shape, with Spark partitions as the concurrency.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType

DEFAULT_PAGE_SIZE = 1000
DEFAULT_NUM_PAGES = 8


class _Page(InputPartition):
    def __init__(self, index: int, offset: int, limit: int, chase: bool = False):
        self.index = index
        self.offset = offset
        self.limit = limit
        self.chase = chase  # last partition keeps paging until a short page


def _fetch_page(
    url: str, offset: int, limit: int, headers: dict | None = None
) -> list[str]:
    """Fetch one page of NDJSON lines. Runs ON EXECUTORS — stdlib only,
    self-contained (cloudpickle ships this function by value).
    ``headers`` carries auth (e.g. the OAuth2 Bearer token acquired
    once on the driver — executors never see client secrets)."""
    if url.startswith("file://"):
        path = url[len("file://") :]
        out: list[str] = []
        with open(path, "r", encoding="utf-8") as f:
            for i, line in enumerate(f):
                if i >= offset + limit:
                    break
                if i >= offset and line.strip():
                    out.append(line)
        return out
    import urllib.parse
    import urllib.request

    sep = "&" if urllib.parse.urlparse(url).query else "?"
    page_url = f"{url}{sep}offset={offset}&limit={limit}"
    req = urllib.request.Request(page_url, headers=headers or {})
    with urllib.request.urlopen(req) as resp:  # noqa: S310
        return [ln for ln in resp.read().decode().splitlines() if ln.strip()]


class PagedApiReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.schema_ = schema
        self.url = options.get("url", "")
        self.page_size = int(options.get("page_size", DEFAULT_PAGE_SIZE))
        self.num_pages = int(options.get("num_pages", DEFAULT_NUM_PAGES))
        self.headers = json.loads(options.get("headers", "{}") or "{}")

    def partitions(self) -> list[InputPartition]:
        return [
            _Page(
                i,
                i * self.page_size,
                self.page_size,
                chase=(i == self.num_pages - 1),
            )
            for i in range(self.num_pages)
        ]

    def read(self, partition: _Page) -> Iterator[tuple]:
        fields = [f.name for f in self.schema_.fields]
        offset = partition.offset
        while True:
            lines = _fetch_page(self.url, offset, partition.limit, self.headers)
            for line in lines:
                rec = json.loads(line)
                yield tuple(rec.get(f) for f in fields)
            # a full final page means more may follow: only the chasing
            # partition continues, so planned pages stay disjoint
            if not partition.chase or len(lines) < partition.limit:
                break
            offset += partition.limit


class PagedApiDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "paged_api"

    def schema(self) -> str:
        # schema must be supplied by the caller (.schema(...)); offering
        # a default here would mask mis-wired readers
        raise NotImplementedError(
            "paged_api requires an explicit .schema(...)"
        )

    def reader(self, schema: StructType) -> DataSourceReader:
        return PagedApiReader(schema, self.options)


def _fetch_json(url: str, headers: dict | None = None) -> dict:
    """GET a JSON document. file:// is the offline protocol stand-in
    (tests); http(s):// is the live path. Self-contained for executors.
    ``headers`` carries the Salesforce session Bearer token."""
    if url.startswith("file://"):
        with open(url[len("file://"):], "r", encoding="utf-8") as f:
            return json.load(f)
    import urllib.request

    req = urllib.request.Request(url, headers=headers or {})
    with urllib.request.urlopen(req) as resp:  # noqa: S310
        return json.loads(resp.read().decode())


class _ChainPage(InputPartition):
    def __init__(self, url: str | None, records: list[dict] | None = None):
        self.url = url
        self.records = records  # page 0 ships the discovery result's rows


class SalesforceChainReader(DataSourceReader):
    """NextRecordsURL token-chain (ext/salesforce/source.go:80-148).

    Discovery (driver, sequential): the initial query returns
    ``totalSize``, the first batch of records, and a ``nextRecordsUrl``
    whose trailing ``-<n>`` suffix IS the server's batch size; every
    later page lives at ``<prefix>-<offset>``. Fetch (executors,
    concurrent): one partition per computed page URL.
    """

    def __init__(self, schema: StructType, options: dict):
        self.schema_ = schema
        self.url = options.get("url", "")
        self.soql = options.get("soql", "")
        self.headers = json.loads(options.get("headers", "{}") or "{}")

    def _initial_url(self) -> str:
        if self.url.startswith("file://") or not self.soql:
            return self.url
        import urllib.parse

        sep = "&" if urllib.parse.urlparse(self.url).query else "?"
        return f"{self.url}{sep}q={urllib.parse.quote(self.soql)}"

    def partitions(self) -> list[InputPartition]:
        first = _fetch_json(self._initial_url(), self.headers)
        records = first.get("records", [])
        total = int(first.get("totalSize", len(records)))
        next_url = first.get("nextRecordsUrl", "") or ""
        parts: list[InputPartition] = [_ChainPage(None, records)]
        if next_url and total > len(records):
            prefix, _, batch_s = next_url.rpartition("-")
            batch = int(batch_s)  # source.go:83-88: suffix = batch size
            for offset in range(batch, total, batch):
                parts.append(_ChainPage(f"{prefix}-{offset}"))
        return parts

    def read(self, partition: _ChainPage) -> Iterator[tuple]:
        fields = [f.name for f in self.schema_.fields]
        records = (
            partition.records
            if partition.url is None
            else _fetch_json(partition.url, self.headers).get("records", [])
        )
        for rec in records:
            yield tuple(rec.get(f) for f in fields)


class SalesforceChainDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "sf_chain"

    def schema(self) -> str:
        raise NotImplementedError("sf_chain requires an explicit .schema(...)")

    def reader(self, schema: StructType) -> DataSourceReader:
        return SalesforceChainReader(schema, self.options)


def register(spark) -> None:
    """Register the source on a session, shippable to ANY cluster.

    Spark cloudpickles DataSource classes *by reference*, so workers
    would need this package on their PYTHONPATH; registering the module
    for by-value pickling ships the class in the pickle itself (stdlib +
    pyspark imports only), making the source work under a driver session
    that knows nothing about our install location.
    """
    import sys

    from optimus_any2any_spark import ship_by_value

    ship_by_value(sys.modules[__name__])
    spark.dataSource.register(PagedApiDataSource)
    spark.dataSource.register(SalesforceChainDataSource)
