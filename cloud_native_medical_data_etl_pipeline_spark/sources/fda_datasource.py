"""Spark-native Python DataSource for the OpenFDA-style REST scan.

`sources/rest.py` keeps the reference's driver-side fetch (S1-S5,
SURVEY.md §2.1) for mock-transport parity; THIS module is the
Spark-first upgrade path: a `DataSource` (Spark 4 Python data source
API) whose reader splits the paginated scan into one InputPartition
per page window, so N executor tasks fetch N pages concurrently
instead of the reference's serial skip/limit loop
(fda_extractor.py:62-87). Source-side predicate pushdown (S2) stays:
the date-range filter is encoded into every page request's query
string (fda_extractor.py:54-59).

Rows come out as one JSON string per record (`value string`), the
Kafka-source convention: downstream parses with
`from_json(value, schemas.FDA_RAW)` and flattens with
`operators.ingest.flatten_fda`, keeping schema enforcement in one
place.

Partition sizing at scale: pages_per_partition bounds the number of
tasks; each task rate-limits itself, so aggregate request rate =
tasks x (1/RATE_LIMIT_S) — set pages_per_partition to respect the
upstream API's global budget.

Usage:
    spark.dataSource.register(OpenFDADataSource)
    df = (spark.read.format("openfda")
          .option("start_date", "2024-01-01").option("end_date", "2024-01-31")
          .option("limit", "1000")
          .option("mock", "true")   # deterministic offline transport
          .load())
"""

from __future__ import annotations

import json
import time

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from .rest import FDA_BATCH_SIZE, FDA_URL, MAX_RETRIES, RATE_LIMIT_S, TIMEOUT_S


class _PageRange(InputPartition):
    def __init__(self, skip: int, limit: int):
        self.skip = skip
        self.limit = limit


def _mock_page(skip: int, limit: int, total: int) -> list[dict]:
    """Deterministic offline transport: synthesizes `limit` records
    starting at `skip` with the Drugs@FDA nested shape, short-pages at
    `total` like the real API."""
    out = []
    for i in range(skip, min(skip + limit, total)):
        out.append(
            {
                "application_number": f"NDA{i:06d}",
                "sponsor_name": f"SPONSOR {i % 7}",
                "openfda": {
                    "brand_name": [f"BRAND{i}"],
                    "generic_name": [f"generic{i % 13}"],
                    "manufacturer_name": [f"MFR {i % 5}"],
                },
                "products": [
                    {
                        "brand_name": f"BRAND{i}",
                        "active_ingredients": [{"name": f"ing{i % 11}"}],
                        "dosage_form": "TABLET",
                        "marketing_status": "Prescription",
                    }
                ],
                "submissions": [
                    {
                        "submission_status_date": f"2024{1 + i % 12:02d}{1 + i % 28:02d}",
                        "submission_type": "ORIG",
                    }
                ],
            }
        )
    return out


class TransientFetchError(RuntimeError):
    """A retryable fetch failure (the injected-fault analogue of a
    5xx / timeout from the real API)."""


class _Reader(DataSourceReader):
    def __init__(self, options: dict):
        self.start_date = options.get("start_date", "")
        self.end_date = options.get("end_date", "")
        self.limit = int(options.get("limit", "1000"))
        self.pages_per_partition = int(options.get("pages_per_partition", "1"))
        self.mock = options.get("mock", "false").lower() == "true"
        self.mock_total = int(options.get("mock_total", str(self.limit)))
        # fault injection (S3 retry evidence): every Nth page (page
        # index % N == 0) raises TransientFetchError on every attempt
        # but the last, so the scan is complete ONLY if the retry loop
        # actually recovers those pages. 0 disables.
        self.mock_fail_every = int(options.get("mock_fail_every", "0"))

    def partitions(self):
        step = FDA_BATCH_SIZE * self.pages_per_partition
        return [
            _PageRange(skip, min(step, self.limit - skip))
            for skip in range(0, self.limit, step)
        ]

    def read(self, partition: _PageRange):
        skip, remaining = partition.skip, partition.limit
        while remaining > 0:
            page = min(FDA_BATCH_SIZE, remaining)
            records = self._fetch_page(skip, page)
            for rec in records:
                yield (json.dumps(rec, sort_keys=True),)
            if len(records) < page:  # short page -> source exhausted
                break
            skip += page
            remaining -= page
            if remaining > 0 and not self.mock:
                time.sleep(RATE_LIMIT_S)

    def _fetch_page(self, skip: int, limit: int) -> list[dict]:
        """Retry wrapper shared by BOTH transports — the mock path goes
        through the same loop, so fault-injected scans (mock_fail_every)
        exercise the production retry/backoff logic, not a test
        double.  Backoff sleeps are skipped in mock mode (determinism
        and test speed).  The schedule is rest.fetch_with_retry's, which
        tests/test_ingest_sources.py checks; this loop raises on
        exhaustion where that one returns None."""
        last_err: Exception | None = None
        for attempt in range(MAX_RETRIES):
            try:
                return self._do_fetch(skip, limit, attempt)
            except Exception as e:  # linear backoff, reference policy
                last_err = e
                if attempt < MAX_RETRIES - 1 and not self.mock:
                    time.sleep(2 * (attempt + 1))
        raise RuntimeError(
            f"fetch failed after {MAX_RETRIES} attempts"
        ) from last_err

    def _do_fetch(self, skip: int, limit: int, attempt: int) -> list[dict]:
        if self.mock:
            page_idx = skip // FDA_BATCH_SIZE
            if (
                self.mock_fail_every
                and page_idx % self.mock_fail_every == 0
                and attempt < MAX_RETRIES - 1
            ):
                raise TransientFetchError(
                    f"injected transient failure page={page_idx} "
                    f"attempt={attempt}"
                )
            return _mock_page(skip, limit, self.mock_total)
        import urllib.parse
        import urllib.request

        params = {"skip": skip, "limit": limit}
        if self.start_date and self.end_date:
            # source-side pushdown: date range in the search expression
            params["search"] = (
                "submissions.submission_status_date:"
                f"[{self.start_date.replace('-', '')} TO "
                f"{self.end_date.replace('-', '')}]"
            )
        qs = urllib.parse.urlencode(params)
        with urllib.request.urlopen(f"{FDA_URL}?{qs}", timeout=TIMEOUT_S) as r:
            return json.loads(r.read().decode("utf-8")).get("results", [])


class OpenFDADataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "openfda"

    def schema(self) -> str:
        return "value string"

    def reader(self, schema) -> DataSourceReader:
        return _Reader(self.options)
