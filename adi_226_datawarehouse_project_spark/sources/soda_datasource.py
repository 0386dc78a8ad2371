"""SODA REST endpoint as a REAL Spark data source (Spark 4 Python
DataSource API) — the engine's one SODA ingest path. The reference DAG
pulls pages in a sequential loop; this source maps every
``$limit/$offset`` page to an ``InputPartition`` so the fetches run
ON THE EXECUTORS, in parallel, with the usual Spark task retry
machinery around each page.

Usage::

    spark.dataSource.register(SodaDataSource)
    df = (spark.read.format("soda")
          .schema("unique_key string, borough string, latitude string")
          .option("url_template",
                  "https://data.example.gov/resource/erm2.json"
                  "?$limit={limit}&$offset={offset}")
          .option("page_size", "50000")
          .option("n_pages", "128")
          .load())

``url_template`` carries ``{limit}``/``{offset}`` placeholders — which
also makes the source OFFLINE-TESTABLE with ``file://`` templates
(recorded page files). ``n_pages`` bounds the partition count (SODA
offers no cheap row-count probe; pages past the end return empty and
cost one fetch). Fields are
extracted from each JSON record by schema field NAME; SODA's
everything-is-a-string payloads mean a string-typed schema + the
engine's ``try_cast`` cleaning ops downstream (the P15 path).

The reader deliberately holds NO driver-side state beyond the options
— partitions are pure (template, offset, limit) values, so a task
retry refetches its page idempotently.
"""

from __future__ import annotations

import json
import urllib.request
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType


class SodaPage(InputPartition):
    def __init__(self, offset: int, limit: int):
        self.offset = offset
        self.limit = limit


def _fetch_page(url: str, timeout: float, past_end_ok: bool = True) -> list[dict]:
    try:
        with urllib.request.urlopen(url, timeout=timeout) as resp:  # noqa: S310
            return json.loads(resp.read().decode("utf-8"))
    except urllib.error.URLError:
        # ONLY a past-the-end probe on file:// test sources maps to an
        # empty page (http SODA returns [] past the end, never an
        # error). HTTPError (429/5xx rate limits) and connection
        # failures must PROPAGATE so the task fails and Spark's retry
        # machinery refetches the page instead of silently dropping it.
        # Callers pass past_end_ok=False for the FIRST page (offset 0):
        # a missing file there is a typo'd fixture path, not past-the-
        # end, and must fail loudly instead of reading as an empty
        # dataset (r12 nit).
        if past_end_ok and url.startswith("file:"):
            return []
        raise


class SodaReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        if "url_template" not in options:
            raise ValueError("soda source requires option url_template")
        self.template = options["url_template"]
        if "{limit}" not in self.template or "{offset}" not in self.template:
            raise ValueError("url_template must contain {limit} and {offset}")
        self.page_size = int(options.get("page_size", "1000"))
        self.n_pages = int(options.get("n_pages", "16"))
        self.timeout = float(options.get("timeout", "30"))
        self.fields = [f.name for f in schema.fields]

    def partitions(self) -> list[InputPartition]:
        return [
            SodaPage(i * self.page_size, self.page_size)
            for i in range(self.n_pages)
        ]

    def read(self, partition: SodaPage) -> Iterator[tuple]:
        url = self.template.format(limit=partition.limit, offset=partition.offset)
        for rec in _fetch_page(url, self.timeout, past_end_ok=partition.offset > 0):
            yield tuple(rec.get(name) for name in self.fields)


class SodaDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "soda"

    def reader(self, schema: StructType) -> SodaReader:
        return SodaReader(schema, self.options)

    def simpleStreamReader(self, schema: StructType) -> "SodaStreamReader":
        return SodaStreamReader(schema, self.options)


class SodaStreamReader(SimpleDataSourceStreamReader):
    """Incremental STREAMING reader for the same endpoint: the offset
    is simply the row offset consumed so far, so each micro-batch
    fetches up to ``page_size`` newly-appended rows (SODA result order
    is stable for an append-only dataset ordered by its row id). A
    short/empty page advances the offset only by what arrived —
    `readBetweenOffsets` refetches the exact `[start, end)` slice on
    replay, giving the usual file-source-style reliability as long as
    the upstream is append-only."""

    def __init__(self, schema: StructType, options: dict):
        self._r = SodaReader(schema, options)
        self._initial = int(options.get("initial_offset", "0"))

    def initialOffset(self) -> dict:
        return {"offset": self._initial}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        off = int(start["offset"])
        url = self._r.template.format(limit=self._r.page_size, offset=off)
        # past_end_ok stays True on the STREAMING surface, offset 0
        # included: a polling stream that has not seen data yet is
        # indistinguishable from a not-yet-recorded page 0, and raising
        # here would kill (and keep killing, offset never advances) a
        # legitimately empty-so-far append-only stream. The typo'd-path
        # guard lives on the BATCH reader, where offset-0-missing is
        # decidable (r13 review).
        recs = _fetch_page(url, self._r.timeout)
        rows = [tuple(rec.get(n) for n in self._r.fields) for rec in recs]
        return iter(rows), {"offset": off + len(rows)}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        off, stop = int(start["offset"]), int(end["offset"])
        if stop <= off:
            return iter([])
        url = self._r.template.format(limit=stop - off, offset=off)
        recs = _fetch_page(url, self._r.timeout)
        if len(recs) != stop - off:
            # the committed [start, end) slice is a contract: a short
            # replay means upstream mutated (not append-only) or the
            # fetch was truncated — failing is the only safe answer.
            raise RuntimeError(
                f"soda replay of [{off}, {stop}) returned {len(recs)} rows; "
                "expected exactly the committed slice"
            )
        return iter(tuple(rec.get(n) for n in self._r.fields) for rec in recs)
