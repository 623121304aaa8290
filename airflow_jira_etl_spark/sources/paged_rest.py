"""Paginated REST ingest — the reference's source operators, Spark-first.

Reference behavior being reproduced (SURVEY.md §2A):

* A1 HTTP fetch with Bearer/Basic auth from env
  (``/root/reference/dags/jira/jira_fetcher.py:19-37``, env lookup :14-16)
* A2 cursor-paginated scan: follow ``metadata.next`` until absent
  (``worklog_processor.py:80-108``) — inherently SERIAL (each cursor
  comes from the previous response); the Spark design keeps the cursor
  walk on the driver as a lightweight page iterator and parallelizes
  everything downstream (parse → flatten → sink).
* A3 offset-paginated scan: page 0 discovers ``total``
  (``issue_processor.py:141-142``), then every offset is independent —
  the remaining pages are fetched CONCURRENTLY on a driver thread pool
  (a fetch waits on I/O, not on a CPU), the key scan-parallelism win
  over the reference's serial loop. (The reference's ``<=`` off-by-one
  that refetches a trailing empty page, :129, is deliberately not
  reproduced.)
* A4 single-page scan (``users_processor.py:53-95``) = offset scan
  with one page.
* A13 retry: 5 attempts, exponential backoff 4-10 s
  (``jira_base_processor.py:14-17``) — per-page here (not whole-scan:
  retrying the whole scan is the reference's compromise because its
  cursor state lives on ``self``; per-page retry + idempotent upsert
  is strictly safer).

Pages are exchanged as RAW JSON STRINGS: executors parse them with
``from_json`` against an explicit schema derived from the MAPPING
(``mapping_to_schema``) and flatten with the compiled MAPPING plan —
all JVM-side after the fetch. Every fetch runs on the driver, and the
records it returns (a cursor page, the single page, the offset scan's
pages) enter Spark as an Arrow ``LocalRelation`` (``_raw_frame``), not
a Python-backed RDD, so no ingest batch starts a Python worker.

The batch's leaf is that ``LocalRelation`` behind an observation, not
the bare relation. Over a bare one, Catalyst's ``ConvertToLocalRelation``
rule folds the flatten into a new ``LocalRelation`` whenever a plan over
the batch is optimized: the parse then runs interpreted on one driver
thread (at 200 issue pages on a 4-core host, the issues apply took about
three times as long). Behind the observation the rule cannot fire, and
the parse runs once, inside the task of the apply that consumes the
batch. ``_raw_frame`` is the only place that turns fetched records into
a frame.
"""

from __future__ import annotations

import itertools
import json
import os
import time
from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from airflow_jira_etl_spark.operators.mapping import (
    Mapping,
    compile_mapping,
    mapping_to_schema,
)

# fetch(url, params) -> parsed JSON (dict or list). The offset scan
# calls one fetcher from up to PAGE_PARALLELISM driver threads at once,
# so it must be thread-safe; it never leaves the driver, so it need not
# pickle.
Fetcher = Callable[[str, dict | None], object]

RETRY_ATTEMPTS = 5
RETRY_MIN_S = 4.0
RETRY_MAX_S = 10.0

# upper bound on the offset scan's fetch threads (pages in flight at once)
PAGE_PARALLELISM = 32


def with_retry(
    fn: Callable[[], object],
    attempts: int = RETRY_ATTEMPTS,
    min_wait: float = RETRY_MIN_S,
    max_wait: float = RETRY_MAX_S,
    sleep: Callable[[float], None] = time.sleep,
) -> object:
    """The reference's tenacity policy (5 attempts, exp backoff 4-10 s,
    multiplier 1 — ``jira_base_processor.py:14-17``) without the
    dependency."""
    last: Exception | None = None
    for attempt in range(attempts):
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 — policy mirrors tenacity's default
            last = exc
            if attempt < attempts - 1:
                sleep(min(max_wait, max(min_wait, 2.0**attempt)))
    raise last  # type: ignore[misc]


def page_plan(page: dict) -> tuple[int | None, int]:
    """The offset-pagination facts of one response: (total, stride).
    ``total`` is None when the endpoint does not report one (the A4
    single-page shape) — callers must not conflate that with an empty
    result set."""
    total = page.get("total")
    stride = int(page.get("maxResults", 100) or 100)
    if stride <= 0:
        # e.g. the common 'maxResults: -1 = unlimited' convention —
        # as a range() step it yields no further offsets, so the
        # fan-out would silently return page 0 alone; no caller can
        # paginate on a non-positive stride, so the parse refuses it
        raise ValueError(
            f"paged response reports non-positive maxResults {stride} "
            f"— cannot derive a pagination stride (an 'unlimited' "
            f"sentinel? fetch with an explicit maxResults param)"
        )
    return (int(total) if total is not None else None, stride)


def http_fetcher(auth_scheme: str, token_env: str) -> Fetcher:
    """A1: GET url+params with an auth header, parse JSON, raise on
    HTTP error. ``requests`` is optional in this environment — the
    fetcher is constructed lazily and fails with a clear message if the
    HTTP stack is unavailable (tests inject file-based fetchers)."""
    token = os.environ.get(token_env, "")

    def fetch(url: str, params: dict | None = None) -> object:
        try:
            import requests  # noqa: PLC0415 — optional dependency
        except ImportError as exc:  # pragma: no cover
            raise RuntimeError(
                "the 'requests' package is not installed; inject a custom "
                "fetcher (any callable (url, params) -> parsed JSON)"
            ) from exc
        resp = requests.get(
            url,
            params=params,
            headers={"Authorization": f"{auth_scheme} {token}"},
            timeout=30,
        )
        resp.raise_for_status()
        return resp.json()

    return fetch


def http_fetcher_factory(options: dict) -> Fetcher:
    """Factory with the ``(options) -> fetch`` shape that the pipeline
    CLI's ``--fetcher`` loads by dotted path: reads ``auth_scheme``/
    ``token_env`` from the options with the reference's defaults (Bearer
    auth, token from env — jira_fetcher.py:14-16)."""
    return http_fetcher(
        options.get("auth_scheme", "Bearer"),
        options.get("token_env", "API_TOKEN"),
    )


# --------------------------------------------------------------- scans

def cursor_scan(
    fetcher: Fetcher,
    initial_url: str,
    params: dict | None = None,
    results_key: str = "results",
    next_path: tuple[str, str] = ("metadata", "next"),
) -> Iterator[list[dict]]:
    """A2: yield record pages following the response cursor until it is
    absent (``worklog_processor.py:80-108``; cursor advance :106).
    Each page fetch is retried independently."""
    url: str | None = initial_url
    first = True
    while url:
        page = with_retry(lambda u=url: fetcher(u, params if first else None))
        first = False
        yield page.get(results_key, [])  # type: ignore[union-attr]
        meta = page.get(next_path[0], {})  # type: ignore[union-attr]
        url = meta.get(next_path[1]) if isinstance(meta, dict) else None


def offset_scan_parallel(
    spark: SparkSession,
    fetcher: Fetcher,
    url: str,
    params: dict | None = None,
    records_key: str = "issues",
) -> DataFrame:
    """A3 fan-out: fetch page 0 to learn ``total`` and the server's
    ``maxResults`` stride, then fetch the remaining offsets CONCURRENTLY
    on at most ``PAGE_PARALLELISM`` driver threads, returning a
    DataFrame of raw JSON record strings.

    Every page fetch carries the caller's filter params plus its own
    ``startAt`` and is retried on its own. Rows come out in page order
    (page 0, then ascending ``startAt``), so a key served on two pages
    resolves to the later page in the upsert. A page that exhausts its
    retries raises out of the scan: the pages not yet started are
    cancelled and no partial extract is returned.

    All pages become ONE Arrow ``LocalRelation``, so nothing downstream
    starts a Python worker. The cost is that the driver holds the raw
    extract: ~22 MB of JSON at the reference's full 200 x 100 issue
    pages (measured on the seeded emulator), the same bytes the
    ``LocalRelation`` holds anyway. A fetch waits on the server, not on
    a CPU, so the threads turn an O(pages) serial wall-clock into
    O(pages / PAGE_PARALLELISM)."""
    if params and "startAt" in params:
        # the offsets below assume coverage begins at 0; a caller-
        # supplied startAt would skip [0, startAt) and double-fetch the
        # page the offsets re-derive — refuse rather than silently do so
        raise ValueError(
            "offset_scan_parallel owns the startAt parameter (pages fan "
            "out from offset 0); pass only filter params"
        )
    first = with_retry(lambda: fetcher(url, params))
    total, stride = page_plan(first)  # type: ignore[arg-type]
    offsets = range(stride, total or 0, stride)  # page 0 already fetched
    pages = [first]
    if offsets:

        def fetch_page(start_at: int) -> object:
            p = {**(params or {}), "startAt": start_at}
            return with_retry(lambda: fetcher(url, p))

        # map yields in submission (= page) order; a raising page
        # cancels the pages not yet started, and leaving the block
        # joins the threads still running
        with ThreadPoolExecutor(min(PAGE_PARALLELISM, len(offsets))) as pool:
            pages += pool.map(fetch_page, offsets)
    return _raw_frame(
        spark,
        [json.dumps(r) for page in pages for r in page.get(records_key, [])],  # type: ignore[union-attr]
    )


def single_page_scan(fetcher: Fetcher, url: str, params: dict | None = None) -> list[dict]:
    """A4: one GET whose response is a bare JSON list
    (``users_processor.py:71,82``)."""
    page = with_retry(lambda: fetcher(url, params))
    if isinstance(page, dict):
        # list(dict) would silently yield the KEY STRINGS (e.g. Jira's
        # {"errorMessages": ..., "errors": ...} error body under HTTP
        # 200), which flatten downstream into all-NULL rows
        raise TypeError(
            f"single-page endpoint returned an object, not a list "
            f"(keys {sorted(page)[:5]}) — wrong endpoint shape or an "
            f"API error body"
        )
    return list(page)  # type: ignore[arg-type]


# ----------------------------------------------------- parse + flatten

def raw_json_to_flat(
    raw_df: DataFrame,
    mapping: Mapping,
    leaf_types: dict[str, T.DataType] | None = None,
) -> DataFrame:
    """Parse raw JSON record strings with the MAPPING-derived schema and
    apply the compiled flatten — the reference's A5 as one JVM select."""
    schema = mapping_to_schema(mapping, leaf_types)
    parsed = raw_df.select(F.from_json("raw", schema).alias("r")).select("r.*")
    return parsed.select(*compile_mapping(mapping, schema))


# one observation name per frame: Spark refuses a plan that unions two
# frames observed under the same name (a self-union is fine)
_FRAME_IDS = itertools.count()


def _raw_frame(spark: SparkSession, raws: list[str]) -> DataFrame:
    """Driver-held JSON strings as a one-column ``raw`` frame. Built
    from a ``pyarrow`` table, so Spark plans it as a JVM
    ``LocalRelation`` whether or not the Arrow conf is on; a
    ``createDataFrame(list)`` frame is a Python-backed RDD instead, and
    every action over it starts Python worker tasks to re-pickle the
    rows.

    The relation is observed (a row count, ``CollectMetrics``) so that
    the optimizer cannot fold the parse and flatten above it into a
    driver-side ``LocalRelation`` (see the module docstring). The count
    rides on the consuming task's accumulators: no job or stage."""
    raw = spark.createDataFrame(pa.table({"raw": pa.array(raws, pa.string())}))
    return raw.observe(f"raw_frame_{next(_FRAME_IDS)}", F.count(F.lit(1)))


def records_to_flat_df(
    spark: SparkSession,
    records: list[dict],
    mapping: Mapping,
    leaf_types: dict[str, T.DataType] | None = None,
) -> DataFrame:
    """Driver-collected records (a cursor page, the single users page)
    → flat DataFrame over an Arrow ``LocalRelation``."""
    raw = _raw_frame(spark, [json.dumps(r) for r in records])
    return raw_json_to_flat(raw, mapping, leaf_types)
