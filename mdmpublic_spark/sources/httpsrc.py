"""S4 — HTTP(S) source with response-header check.

Reference analog (provenance, not a port): the slow-job diagnostic
fetches a Jenkins console URL and proceeds only if the response headers
pass a sanity check (diagnostic_jenkinsjob_slow.sh:66-69 — curl -sI |
grep); collect_files.sh's wget entries have the same probe-then-fetch
shape. SURVEY.md §2.1 classifies S4 as driver-side and non-core — this
module exists so the row is implemented-and-tested rather than absent.

Two surfaces, matching the two scales the operator runs at:

* ``read_http_source`` — DRIVER-side fetch of a bounded url list (the
  reference's actual shape: a handful of service endpoints known at
  plan time), returning a typed DataFrame. O(sources) driver work, like
  the S8 glob expansion and the P8 existence probe.
* ``fetch_distributed`` — EXECUTOR-side fetch via ``mapInPandas`` over
  a urls DataFrame, for the web-scale variant (millions of urls): the
  url table partitions across the cluster and each task fetches its
  slice; the driver never sees payloads. Same row contract.

Both honor ``require_header``/``expect_status`` and skip-with-warning
semantics on failures (``on_error="skip"``), mirroring the reference's
probe-gated fetch. ``file://`` urls work through the same urllib
handler chain, so tests are hermetic — this sandbox has no network.
"""

from __future__ import annotations

import logging
import time
import urllib.parse
import urllib.request
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession, functions as F

log = logging.getLogger(__name__)

ROW_SCHEMA = (
    "url string, status int, content_type string, n_bytes long, payload binary"
)

# opener contract: callable(url, timeout) -> context manager yielding a
# response with .status/.headers/.read(). Injectable so retry/cap
# behavior is testable hermetically (this sandbox has no network).
Opener = Callable[[str, float], object]


def _default_opener(url: str, timeout: float):
    return urllib.request.urlopen(url, timeout=timeout)  # noqa: S310


# sentinel distinguishing a transport failure (retried, breaker-counted)
# from a deterministic gate skip (neither): both drop the row. A string
# compared by EQUALITY, not an object() compared by identity: the
# mapInPandas closure is cloudpickled by value, so an identity sentinel
# would arrive on executors as a different object and never match.
TRANSPORT_FAILURE = "__mdm_transport_failure__"


def _fetch_one(
    url: str,
    expect_status: int,
    require_header: str | None,
    timeout: float,
    max_retries: int = 0,
    backoff: float = 0.5,
    opener: Opener | None = None,
):
    """One probe-gated fetch → row tuple on success, ``None`` on a gate
    skip, ``TRANSPORT_FAILURE`` when the transport gave out.

    Transport errors (unreachable, timeout) retry up to ``max_retries``
    times with exponential backoff (backoff·2^attempt seconds) — the
    bounded-retry shape of the reference's bucket-connect retries
    (DeploySystem/config.xml:93-95: 10 × 10 s). Gate failures — wrong
    status, missing required header — are DETERMINISTIC responses, not
    transport flakes, so they skip immediately without retry."""
    opener = opener or _default_opener
    for attempt in range(max_retries + 1):
        try:
            with opener(url, timeout) as resp:
                status = getattr(resp, "status", None) or 200  # file:// has no status
                headers = resp.headers  # email.Message: case-insensitive lookups
                if status != expect_status:
                    log.warning(
                        "http source: %s status %s != %s — skipped", url, status, expect_status
                    )
                    return None
                if require_header is not None and headers.get(require_header) is None:
                    log.warning(
                        "http source: %s missing header %r — skipped", url, require_header
                    )
                    return None
                payload = resp.read()
                return (
                    url,
                    int(status),
                    headers.get("Content-Type"),
                    len(payload),
                    payload,
                )
        except Exception as exc:  # noqa: BLE001 — skip-with-warning is the contract
            if attempt < max_retries:
                time.sleep(backoff * (2**attempt))
                continue
            log.warning(
                "http source: %s unreachable after %d attempt(s) (%s) — skipped",
                url,
                attempt + 1,
                exc,
            )
            return TRANSPORT_FAILURE
    return TRANSPORT_FAILURE


def read_http_source(
    spark: SparkSession,
    urls: list[str],
    expect_status: int = 200,
    require_header: str | None = None,
    on_error: str = "skip",
    timeout: float = 10.0,
) -> DataFrame:
    """Driver-side S4: fetch a BOUNDED url list (known at plan time),
    header-checked, failures skipped with a warning (or raised with
    ``on_error="fail"``). Returns (url, status, content_type, n_bytes,
    payload) rows. For url lists that don't fit on the driver, use
    ``fetch_distributed``."""
    rows = []
    for u in urls:
        row = _fetch_one(u, expect_status, require_header, timeout)
        if isinstance(row, tuple):
            rows.append(row)
        elif on_error == "fail":
            raise OSError(f"http source: fetch/header check failed for {u}")
    return spark.createDataFrame(rows, ROW_SCHEMA)


def _host_of(url: str) -> str:
    """Lower-cased HOSTNAME (no port, no userinfo) — the breaker key.

    Must agree with the partitioning key in ``fetch_distributed`` (Spark
    ``parse_url(url, 'HOST')`` lower-cased): if the two keyed on
    different granularities (e.g. netloc keeps ``host:8080`` while
    parse_url strips the port), two ports of one host would share a task
    yet count breaker failures separately."""
    try:
        return (urllib.parse.urlsplit(url).hostname or "").lower()
    except ValueError:
        return ""


def fetch_distributed(
    urls_df: DataFrame,
    url_col: str = "url",
    expect_status: int = 200,
    require_header: str | None = None,
    timeout: float = 10.0,
    max_retries: int = 2,
    backoff: float = 0.5,
    host_failure_cap: int = 5,
    opener: Opener | None = None,
) -> DataFrame:
    """Executor-side S4 for web-scale url tables: ``mapInPandas`` fetch —
    each task fetches its partition's urls and emits the same row
    contract; failed/ungated urls are dropped (the skip semantics), so
    the output row count ≤ input. Payload bytes stay on the executors
    (Arrow batches), never on the driver.

    Real-crawl hardening (all per-task state, no driver coordination):

    * **bounded retry with backoff** — transport errors retry
      ``max_retries`` times at backoff·2^attempt seconds (gate failures
      never retry; see ``_fetch_one``).
    * **per-host concurrency cap** — the url table hash-partitions on
      the url's host, so ALL of a host's urls run in ONE task: at most
      one in-flight request per host cluster-wide, regardless of
      executor count — a crawl cannot hammer a single origin from a
      thousand tasks.
    * **per-host circuit breaker** — after ``host_failure_cap``
      CONSECUTIVE transport failures for one host, that host's remaining
      urls in the task are skipped with one logged line (with host
      partitioning that is the host's whole url set): a dead host costs
      O(cap × retries) connection attempts, not O(urls × retries). Any
      success resets the host's counter.
    """
    import pandas as pd

    # Column-based parse_url (no string interpolation — url_col may need
    # quoting), lower-cased to match _host_of's breaker key.
    host = F.lower(F.coalesce(F.parse_url(F.col(url_col), F.lit("HOST")), F.lit("")))
    urls_df = urls_df.repartition(host)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        consec_failures: dict[str, int] = {}
        tripped: set[str] = set()
        for pdf in batches:
            out = []
            for u in pdf[url_col]:
                h = _host_of(u)
                if h in tripped:
                    continue
                row = _fetch_one(
                    u, expect_status, require_header, timeout,
                    max_retries=max_retries, backoff=backoff, opener=opener,
                )
                if isinstance(row, tuple):
                    out.append(row)
                    consec_failures[h] = 0
                elif row == TRANSPORT_FAILURE:
                    n = consec_failures.get(h, 0) + 1
                    consec_failures[h] = n
                    if n >= host_failure_cap:
                        tripped.add(h)
                        log.warning(
                            "http source: host %r tripped after %d consecutive "
                            "transport failures — skipping its remaining urls "
                            "in this task",
                            h,
                            n,
                        )
                else:
                    # gate skip: the transport answered — host is alive
                    consec_failures[h] = 0
            yield pd.DataFrame(
                out, columns=["url", "status", "content_type", "n_bytes", "payload"]
            )

    return urls_df.mapInPandas(run, ROW_SCHEMA)
