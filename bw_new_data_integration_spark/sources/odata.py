"""Batched keyed REST sink with the reference's retry discipline.

The reference uploads via OData ``$batch`` multipart: 400 records per
request, 6 threads, retry ×5 honoring ``Retry-After`` on 429,
exponential backoff capped at 60s, per-subresponse success counting,
``odata.continue-on-error`` (``modules/dataverse.py:40-220``,
``load_csv.py:83-126``).

Spark-first shape: the DataFrame is repartitioned to the desired
concurrency and each partition streams its rows into batches inside
``foreachPartition`` — executors ARE the thread pool, so the 6-thread
ThreadPoolExecutor disappears. The HTTP transport is injected
(``transport(batch_rows) -> per-row status codes``; deletes call
``transport(batch_rows, method="DELETE")``, so a transport that cannot
delete fails loudly instead of upserting key-only records): tests use a
fake; production wires a requests session. Counters come back through Spark
accumulators, matching the reference's created/updated/errors summary.
"""

from __future__ import annotations

import logging
import time
from collections.abc import Callable, Iterator, Sequence

from pyspark.sql import DataFrame

logger = logging.getLogger(__name__)

#: ``transport(batch) -> per-row statuses`` upserts the records (PATCH);
#: ``transport(batch, method="DELETE")`` deletes them by key
Transport = Callable[..., list[int]]

#: statuses the reference counts as success (modules/dataverse.py:110-146)
SUCCESS_CREATED = 201
SUCCESS_OK = (200, 201, 204)
RETRYABLE = (429, 500, 502, 503, 504)
#: auth failures trigger a token refresh + immediate retry, not backoff
#: (reference full_refresh_fy2023_2025.py:73-75)
AUTH_FAILED = (401, 403)


class RetryPolicy:
    """5 attempts, honor Retry-After on 429, exp backoff base 2 cap 60s
    (reference ``modules/dataverse.py:183-195``)."""

    def __init__(self, max_attempts: int = 5, backoff_base: float = 2.0, backoff_cap: float = 60.0):
        self.max_attempts = max_attempts
        self.backoff_base = backoff_base
        self.backoff_cap = backoff_cap

    def delay(self, attempt: int, retry_after: float | None = None) -> float:
        if retry_after is not None:
            return min(retry_after, self.backoff_cap)
        return min(self.backoff_base**attempt, self.backoff_cap)


class BatchStats:
    __slots__ = ("created", "updated", "errors", "batches")

    def __init__(self) -> None:
        self.created = 0
        self.updated = 0
        self.errors = 0
        self.batches = 0


def _send_batch(
    batch: list[dict],
    transport: Transport,
    policy: RetryPolicy,
    stats: BatchStats,
    sleep: Callable[[float], None] = time.sleep,
    on_auth_error: Callable[[], None] | None = None,
) -> None:
    def attempt_once() -> list[int] | None:
        try:
            return transport(batch)
        except (ConnectionError, TimeoutError):
            return None

    auth_retries = 0
    for attempt in range(policy.max_attempts):
        statuses = attempt_once()
        while (
            statuses is not None
            and on_auth_error is not None
            and auth_retries < policy.max_attempts
            and all(s in AUTH_FAILED for s in statuses)
        ):
            # Expired token: refresh and resend immediately — an auth
            # failure is not a server overload, so it neither consumes
            # the retry budget nor backs off (bounded by max_attempts
            # so a permanently-denied principal still terminates).
            # ALL subresponses must be 401/403: an expired token fails
            # the whole request, whereas a row-level 403 in a mixed
            # batch is a per-record authorization error — resending
            # that batch would re-apply the already-succeeded rows.
            on_auth_error()
            auth_retries += 1
            statuses = attempt_once()
        if statuses is not None and not any(s in RETRYABLE for s in statuses):
            for s in statuses:
                if s == SUCCESS_CREATED:
                    stats.created += 1
                elif s in SUCCESS_OK:
                    stats.updated += 1
                else:
                    stats.errors += 1
            stats.batches += 1
            return
        if attempt < policy.max_attempts - 1:
            sleep(policy.delay(attempt))
    # exhausted retries: whole batch counts as errors
    stats.errors += len(batch)
    stats.batches += 1


def _log_progress(stats: BatchStats, t0: float) -> None:
    """Per-batch progress line on the executor log, matching the
    reference's running summary format (``modules/dataverse.py:213-219``:
    created/updated/errors + ok-rows/sec). INFO level — a 100 TB load
    emits one line per 400-row batch per partition, which is what an
    operator tails to watch a long load move."""
    ok = stats.created + stats.updated
    elapsed = time.time() - t0
    rate = ok / elapsed if elapsed > 0 else 0.0
    logger.info(
        "batch %d done: %d created, %d updated, %d errors | %.0f ok-rows/sec",
        stats.batches,
        stats.created,
        stats.updated,
        stats.errors,
        rate,
    )


def write_batched(
    df: DataFrame,
    transport_factory: Callable[[], Transport],
    key_col: str,
    batch_size: int = 400,
    concurrency: int = 6,
    policy: RetryPolicy | None = None,
    method: str = "PATCH",
) -> dict[str, int]:
    """Upload a DataFrame through a batched keyed REST API.

    - null-field pruning per record (P7, ``modules/dataverse.py:76``),
    - rows without a key are skipped (F7, ``modules/dataverse.py:55``),
    - ``repartition(concurrency)`` bounds in-flight requests exactly
      like the reference's thread pool bounded it.

    ``transport_factory`` is called once per partition ON THE EXECUTOR
    (a transport usually holds a socket/session and must not be
    pickled from the driver). If the returned transport exposes an
    ``on_auth_error()`` method (typically ``TokenProvider.invalidate``
    from ``sources/credentials.py``), a batch whose statuses include
    401/403 triggers it and is resent immediately — the reference's
    refresh-on-unauthorized discipline; proactive age-based refresh
    lives inside the transport via ``TokenProvider.token()``.

    ``method="DELETE"`` (``delete_batched``) sends every batch as
    ``transport(batch, method="DELETE")``.
    """
    if method not in ("PATCH", "DELETE"):
        raise ValueError(f"write_batched: method must be PATCH or DELETE, got {method!r}")
    policy = policy or RetryPolicy()
    spark = df.sparkSession
    acc_created = spark.sparkContext.accumulator(0)
    acc_updated = spark.sparkContext.accumulator(0)
    acc_errors = spark.sparkContext.accumulator(0)
    acc_batches = spark.sparkContext.accumulator(0)

    def handle_partition(rows: Iterator) -> None:
        transport = transport_factory()
        on_auth_error = getattr(transport, "on_auth_error", None)
        if method == "DELETE":
            transport = _deleting(transport)
        stats = BatchStats()
        batch: list[dict] = []
        t0 = time.time()
        for row in rows:
            rec = {k: v for k, v in row.asDict().items() if v is not None}
            if not rec.get(key_col):
                continue
            batch.append(rec)
            if len(batch) >= batch_size:
                _send_batch(batch, transport, policy, stats, on_auth_error=on_auth_error)
                _log_progress(stats, t0)
                batch = []
        if batch:
            _send_batch(batch, transport, policy, stats, on_auth_error=on_auth_error)
            _log_progress(stats, t0)
        acc_created.add(stats.created)
        acc_updated.add(stats.updated)
        acc_errors.add(stats.errors)
        acc_batches.add(stats.batches)

    df.repartition(concurrency).foreachPartition(handle_partition)
    return {
        "created": acc_created.value,
        "updated": acc_updated.value,
        "errors": acc_errors.value,
        "batches": acc_batches.value,
    }


def _deleting(transport: Transport) -> Callable[[list[dict]], list[int]]:
    """``transport`` sending DELETE parts. A 404 (the key is already
    gone) counts as done: a replayed span re-sends its deletes, and an
    idempotent delete must not turn them into errors that hold the sync
    watermark back forever."""

    def send(batch: list[dict]) -> list[int]:
        return [204 if s == 404 else s for s in transport(batch, method="DELETE")]

    return send


def delete_batched(
    keys_df: DataFrame,
    transport_factory: Callable[[], Transport],
    key_col: str,
    batch_size: int = 100,
    concurrency: int = 8,
    policy: RetryPolicy | None = None,
) -> dict[str, int]:
    """Mass delete by key (K2): the reference pages IDs then deletes in
    parallel batches (``full_refresh_fy2023_2025.py:59-167``); here the
    key set is already a DataFrame and partitions bound concurrency.
    Each batch goes out as ``transport(batch, method="DELETE")``: a
    transport without a ``method`` parameter raises rather than
    sending the keys as upserts."""
    return write_batched(
        keys_df.select(key_col),
        transport_factory,
        key_col,
        batch_size=batch_size,
        concurrency=concurrency,
        policy=policy,
        method="DELETE",
    )


def format_key_for_url(key: str) -> str:
    """OData alternate-key addressing: ``table(bk='<key>')`` with
    single quotes doubled (C9, reference ``modules/dataverse.py:79``,
    ``load_csv.py:91``). Runs executor-side at URL-build time in a
    transport implementation."""
    return key.replace("'", "''")


# ---------------------------------------------------------------------------
# S9 — paged table scan ($select projection, @odata.nextLink pagination)
# ---------------------------------------------------------------------------

#: a page fetch: request URL (or opaque nextLink) -> parsed OData JSON
#: page ``{"value": [records...], "@odata.nextLink": url-or-absent}``
PageFetch = Callable[[str], dict]


def build_query_url(
    entity: str,
    select: Sequence[str] | None = None,
    filter: str | None = None,  # noqa: A002 - OData's own name
    top: int | None = None,
) -> str:
    """Compose the initial page URL the way the reference does
    (``load_store_hours.py:111-124``: ``$select`` to fetch only the
    columns the pipeline maps — server-side column pruning — and
    ``$top`` page sizing; ``full_refresh_fy2023_2025.py:78-101`` adds
    ``$filter`` fiscal-year slices)."""
    params = []
    if select:
        params.append("$select=" + ",".join(select))
    if filter:
        params.append("$filter=" + filter)
    if top:
        params.append(f"$top={top}")
    return entity + ("?" + "&".join(params) if params else "")


def _walk_pages(fetch: PageFetch, first_url: str) -> Iterator[dict]:
    """Follow ``@odata.nextLink`` until absent (reference
    ``load_store_hours.py:125-138``). The link is opaque — the server
    controls continuation; the client never builds page N's URL."""
    url: str | None = first_url
    while url:
        page = fetch(url)
        yield from page.get("value", [])
        url = page.get("@odata.nextLink")


def read_paged(
    spark,
    fetch_factory: Callable[[], PageFetch],
    entity: str,
    schema,
    select: Sequence[str] | None = None,
    filter: str | None = None,  # noqa: A002
    page_size: int = 5000,
) -> DataFrame:
    """Driver-side sequential page walk → DataFrame with an explicit
    schema. The nextLink chain is inherently serial, so this is for
    *bounded* tables — exactly the reference's uses: a dimension lookup
    before create-vs-update (J2) and the delete-phase ID fetch. For
    large entities use :func:`read_paged_partitioned`, which runs one
    chain per slice in parallel on executors."""
    if select is None:
        select = [f.name for f in schema.fields]
    fetch = fetch_factory()
    url = build_query_url(entity, select=select, filter=filter, top=page_size)
    rows = [tuple(r.get(f.name) for f in schema.fields) for r in _walk_pages(fetch, url)]
    return spark.createDataFrame(rows, schema)


def read_paged_partitioned(
    spark,
    fetch_factory: Callable[[], PageFetch],
    entity: str,
    schema,
    slices: Sequence[str],
    select: Sequence[str] | None = None,
    page_size: int = 5000,
) -> DataFrame:
    """Parallel paged scan: each ``$filter`` slice's nextLink chain is
    walked independently on an executor (``mapInPandas``, one slice per
    partition, Arrow-batched out). This is the scale path for S9 — the
    same partitioned-by-slicer shape as the XMLA source's
    ``fetch_partitioned``: slice cardinality (fiscal years, stores,
    date ranges) bounds parallelism, and no page ever transits the
    driver. ``fetch_factory`` is invoked executor-side, so sockets and
    tokens are created next to their use, never pickled."""
    import pandas as pd

    if select is None:
        select = [f.name for f in schema.fields]
    names = [f.name for f in schema.fields]
    sel = list(select)

    # range-partition on a slice index: exactly one slice per partition
    # (hash repartitioning on the filter string can collide two slices
    # into one task and leave another idle)
    sl = spark.createDataFrame(
        [(i, s) for i, s in enumerate(slices)], "slice_idx int, slice_filter string"
    ).repartitionByRange(len(slices), "slice_idx")

    def fetch_slices(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        fetch = fetch_factory()
        for pdf in batches:
            for flt in pdf["slice_filter"]:
                url = build_query_url(entity, select=sel, filter=flt, top=page_size)
                recs = list(_walk_pages(fetch, url))
                if recs:
                    yield pd.DataFrame({n: [r.get(n) for r in recs] for n in names})

    return sl.mapInPandas(fetch_slices, schema)
