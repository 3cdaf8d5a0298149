"""Resource-catalog handling (reference op01/op02/op03).

The reference GETs the dados.gov.br dataset API and filters resources by
service × year (/root/reference/etl/etl_ida.py:653-712).  Network I/O stays
driver-side (it is control-plane, not data-plane); the manifest itself
becomes a DataFrame so resource filtering is a relational op and a huge
manifest (millions of files at 100 TB) distributes.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass
from urllib.error import URLError
from urllib.parse import urlsplit
from urllib.request import Request, urlopen

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SERVICES = ("SMP", "STFC", "SCM")  # etl_ida.py:656-657
YEARS = (2017, 2018, 2019)

DEFAULT_API = "https://dados.gov.br/dados/api/publico/conjuntos-dados"

# the dados.gov.br open-data API authenticates every request with this
# header (etl_ida.py:667: headers = {"chave-api-dados-abertos": api_key})
API_KEY_HEADER = "chave-api-dados-abertos"


@dataclass(frozen=True)
class Resource:
    """A catalog entry (the reference's RecursoIDA, etl_ida.py:92-101)."""

    titulo: str
    url: str
    formato: str


def build_request(
    url: str,
    api_key: str | None = None,
    headers: dict[str, str] | None = None,
) -> Request:
    """The outbound request, with the dados.gov.br auth header attached
    when an API key is given (etl_ida.py:667,677 — every catalog call
    sends ``chave-api-dados-abertos``).  Split from the I/O so header
    injection is testable offline: the sandbox has no network, but the
    Request object the live path would send is fully constructed here."""
    h = dict(headers or {})
    if api_key is not None:
        h[API_KEY_HEADER] = api_key
    return Request(url, headers=h)  # noqa: S310 (catalog URLs)


def fetch_to_memory(
    url: str,
    timeout: float = 60.0,
    api_key: str | None = None,
    headers: dict[str, str] | None = None,
    allow_file: bool = False,
    max_retries: int = 3,
    backoff: float = 0.5,
) -> bytes:
    """op03 (etl_ida.py:714-730): fetch one resource into memory.

    Scheme allowlist: the URL ultimately comes from an UNTRUSTED
    external catalog (op01's JSON), so only ``http(s)://`` is accepted
    by default — a malicious catalog entry like ``file:///etc/...``
    must not read executor-local files into the pipeline.  Tests and
    sandbox fixtures opt in with ``allow_file=True`` (the caller, not
    the catalog, makes that decision).

    Retries: transient failures get ``max_retries`` attempts with
    exponential backoff (the reference's MAX_RETRIES contract,
    etl_ida.py:80); the last error propagates.  urllib handles
    ``http(s)://`` and ``file://`` alike, so fixtures exercise the real
    code path; the sandbox has no network, which is an environment
    property, not a stub."""
    scheme = urlsplit(url).scheme.lower()
    allowed = {"http", "https"} | ({"file"} if allow_file else set())
    if scheme not in allowed:
        raise ValueError(
            f"fetch_to_memory: scheme {scheme!r} not allowed for {url!r} "
            "(http/https only; pass allow_file=True for local fixtures)"
        )
    req = build_request(url, api_key=api_key, headers=headers)
    last: Exception | None = None
    for attempt in range(max(1, max_retries)):
        try:
            with urlopen(req, timeout=timeout) as resp:  # noqa: S310
                return resp.read()
        except (URLError, OSError) as exc:
            last = exc
            if attempt + 1 < max(1, max_retries):
                time.sleep(backoff * (2**attempt))
    raise last  # type: ignore[misc]


def fetch_catalog(
    dataset_id: str,
    api_base: str = DEFAULT_API,
    api_key: str | None = None,
    allow_file: bool = False,
) -> list[Resource]:
    """op01 (etl_ida.py:653-657, 672-682): GET the dataset catalog and
    map its ``recursos`` entries to Resources.  ``api_base`` is
    caller-supplied (not catalog-derived), so tests pass
    ``allow_file=True`` with file:// fixtures shaped like the
    dados.gov.br payload; ``api_key`` rides the same auth header the
    reference sends."""
    payload = json.loads(
        fetch_to_memory(
            f"{api_base}/{dataset_id}", api_key=api_key, allow_file=allow_file
        )
    )
    return [
        Resource(
            titulo=r.get("titulo") or r.get("title", ""),
            url=r.get("link") or r.get("url", ""),
            formato=(r.get("formato") or r.get("format", "")).lower(),
        )
        for r in payload.get("recursos", payload.get("resources", []))
    ]


def manifest_df(spark: SparkSession, resources: list[Resource]) -> DataFrame:
    return spark.createDataFrame(
        [(r.titulo, r.url, r.formato) for r in resources],
        "titulo string, url string, formato string",
    )


def filter_resources(
    manifest: DataFrame,
    services: tuple[str, ...] = SERVICES,
    years: tuple[int, ...] = YEARS,
) -> DataFrame:
    """op02 (etl_ida.py:684-712): keep resources whose title names a target
    service and year; attach both as columns.  Pure relational filter —
    rlike + literal arrays, pushdown-friendly."""
    svc = F.coalesce(
        *[F.when(F.upper("titulo").rlike(rf"\b{s}\b"), F.lit(s)) for s in services]
    )
    yr = F.coalesce(
        *[F.when(F.col("titulo").rlike(str(y)), F.lit(y)) for y in years]
    )
    return (
        manifest.withColumn("servico", svc)
        .withColumn("ano", yr)
        .filter(F.col("servico").isNotNull() & F.col("ano").isNotNull())
        .filter(F.lower("formato").isin("ods", "csv", "parquet"))
    )
