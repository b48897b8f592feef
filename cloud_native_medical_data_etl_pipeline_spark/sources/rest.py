"""Paginated REST ingestion (reference S1-S5, SURVEY.md §2.1).

The fetch layer is deliberately plain driver-side Python — exactly the
part of the reference that is NOT a dataflow concern: pagination
cursors, retries with backoff, rate limiting, and source-side
predicate pushdown (date filters encoded into query params). The
fetched record batches land in Spark via createDataFrame with the
declared raw schema; everything downstream is distributed.

The HTTP transport is injectable (`http_get=`) so tests mock it the
same way the reference mocks requests.Session.get
(reference tests/test_extractors.py:32-52). The stdlib urllib fallback
keeps this module dependency-free.

Reference citations:
  pagination / skip-limit:   fda_extractor.py:32-100
  pushdown date filter:      fda_extractor.py:54-59
  retry w/ linear backoff:   fda_extractor.py:102-123
  rate limit sleep:          fda_extractor.py:90
  pageToken cursor:          clinicaltrials_extractor.py:24-110
"""

from __future__ import annotations

import json
import logging
import time
import urllib.parse
import urllib.request
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from .. import schemas

HttpGet = Callable[[str, dict[str, Any]], dict]

FDA_BATCH_SIZE = 99       # API hard limit (fda_extractor.py:64-65)
CT_PAGE_CEILING = 1000    # API hard limit (clinicaltrials_extractor.py:87)
RATE_LIMIT_S = 0.5
MAX_RETRIES = 3
TIMEOUT_S = 30
FDA_URL = "https://api.fda.gov/drug/drugsfda.json"


def _default_http_get(url: str, params: dict[str, Any]) -> dict:
    qs = urllib.parse.urlencode(params)
    with urllib.request.urlopen(f"{url}?{qs}", timeout=TIMEOUT_S) as resp:
        return json.loads(resp.read().decode("utf-8"))


def fetch_with_retry(
    url: str,
    params: dict[str, Any],
    http_get: HttpGet = _default_http_get,
    max_retries: int = MAX_RETRIES,
    sleep: Callable[[float], None] = time.sleep,
) -> dict | None:
    """GET with the reference's retry policy: N attempts, linear
    backoff 2*(attempt+1) seconds (fda_extractor.py:102-123).
    Returns None after exhausting retries — LOGGED, because the
    paginated scans treat None as end-of-data (the reference's
    break-on-error behavior): a silent None would make a mid-scan
    outage indistinguishable from a complete fetch."""
    err: Exception | None = None
    for attempt in range(max_retries):
        try:
            return http_get(url, params)
        except Exception as e:
            err = e
            if attempt < max_retries - 1:
                sleep(2 * (attempt + 1))
    logging.getLogger(__name__).warning(
        "fetch failed after %d attempts (%s %s): %s — the paginated "
        "scan will treat this as end-of-data and return a TRUNCATED "
        "record set",
        max_retries,
        url,
        {k: params[k] for k in sorted(params)},
        err,
    )
    return None


def fetch_fda_records(
    start_date: str,
    end_date: str,
    limit: int = 1000,
    url: str = FDA_URL,
    http_get: HttpGet = _default_http_get,
    sleep: Callable[[float], None] = time.sleep,
) -> list[dict]:
    """Paginated skip/limit scan with the date-range predicate pushed
    into the API query (fda_extractor.py:32-100). Terminates on short
    page or reaching `limit`."""
    search = (
        f"submissions.submission_status_date:[{start_date} TO {end_date}]"
    )
    records: list[dict] = []
    skip = 0
    while len(records) < limit:
        batch = min(FDA_BATCH_SIZE, limit - len(records))
        payload = fetch_with_retry(
            url,
            {"search": search, "limit": batch, "skip": skip},
            http_get=http_get,
            sleep=sleep,
        )
        if not payload:
            break
        page = payload.get("results", [])
        records.extend(page)
        if len(page) < batch:
            break
        skip += len(page)
        sleep(RATE_LIMIT_S)
    return records[:limit]


def fetch_ct_studies(
    last_update_date: str,
    page_size: int = 100,
    max_studies: int | None = None,
    url: str = "https://clinicaltrials.gov/api/v2/studies",
    http_get: HttpGet = _default_http_get,
    sleep: Callable[[float], None] = time.sleep,
) -> list[dict]:
    """pageToken-cursor scan with the last-update filter pushed down
    (clinicaltrials_extractor.py:24-110)."""
    page_size = min(page_size, CT_PAGE_CEILING)
    params: dict[str, Any] = {
        "filter.advanced": f"AREA[LastUpdatePostDate]RANGE[{last_update_date},MAX]",
        "pageSize": page_size,
    }
    studies: list[dict] = []
    while True:
        payload = fetch_with_retry(url, dict(params), http_get=http_get, sleep=sleep)
        if not payload:
            break
        studies.extend(payload.get("studies", []))
        token = payload.get("nextPageToken")
        # `is not None`, not truthiness: max_studies=0 is a legitimate
        # computed cap meaning "zero studies", not "unlimited"
        if not token or (
            max_studies is not None and len(studies) >= max_studies
        ):
            break
        params["pageToken"] = token
        sleep(RATE_LIMIT_S)
    return studies[:max_studies] if max_studies is not None else studies


def fda_raw_df(spark: SparkSession, records: list[dict]) -> DataFrame:
    """Fetched records -> DataFrame under the declared nested schema.
    Unknown keys are dropped, missing keys are null — the schema is the
    contract, mirroring the extractor's .get() default chains."""
    return spark.createDataFrame(
        [_prune(r, schemas.FDA_RAW) for r in records], schema=schemas.FDA_RAW
    )


def ct_raw_df(spark: SparkSession, studies: list[dict]) -> DataFrame:
    return spark.createDataFrame(
        [_prune(s, schemas.CT_RAW) for s in studies], schema=schemas.CT_RAW
    )


def _prune(obj: Any, dtype) -> Any:
    """Keep only schema-declared fields (createDataFrame rejects
    unknown dict keys under an explicit StructType)."""
    from pyspark.sql import types as T

    if obj is None:
        return None
    if isinstance(dtype, T.StructType):
        if not isinstance(obj, dict):
            return None
        return {
            f.name: _prune(obj.get(f.name), f.dataType) for f in dtype.fields
        }
    if isinstance(dtype, T.ArrayType):
        if not isinstance(obj, list):
            return None
        return [_prune(x, dtype.elementType) for x in obj]
    return obj
