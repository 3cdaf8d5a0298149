"""Distributed ODS (OpenDocument Spreadsheet) reading — closes the
"ODS at runtime" gap: the reference reads its ODS sheets with pandas+odf
on a single machine (/root/reference/etl/etl_ida.py:171-176, 215-246);
here the files themselves are the distributed input.

An .ods file is a ZIP archive whose ``content.xml`` holds the sheets as
``table:table / table:table-row / table:table-cell`` XML — parseable with
stdlib ``zipfile`` + ``xml.etree`` only (no odfpy dependency, which this
container does not ship).

Plan shape: ``spark.read.format("binaryFile")`` lists the files as rows
(path, content-bytes); one Arrow-batched ``mapInPandas`` parses each file
— per-FILE parallelism, the natural unit since a zip member cannot be
split — and emits normalized LONG rows with a fixed schema.  The long
rows are the contract: wide sheets have per-file month columns, so no
fixed wide schema exists, and nothing pivots them back to wide.  Each
sheet is forward-filled (op15) and melted (op16) in pandas before it
leaves the parse, so ``plans/etl.transform_long`` reads them as they
are: no shuffle, no driver-side collect, no job at plan-build time.

Scale notes: binaryFile loads each file fully into one row — fine for
spreadsheet-sized inputs (the reference's files are ~10⁵ cells).
"""

from __future__ import annotations

import io
import zipfile
import xml.etree.ElementTree as ET
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .converters import SERVICE_SHEETS, _MONTH_PAT, detect_header_row, normalize_wide

_NS = {
    "office": "urn:oasis:names:tc:opendocument:xmlns:office:1.0",
    "table": "urn:oasis:names:tc:opendocument:xmlns:table:1.0",
    "text": "urn:oasis:names:tc:opendocument:xmlns:text:1.0",
}
_MIMETYPE = "application/vnd.oasis.opendocument.spreadsheet"

LONG_SCHEMA = (
    "GRUPO_ECONOMICO string, VARIAVEL string, SERVICO string, "
    "ARQUIVO_ORIGEM string, linha_origem int, ano_mes string, "
    "valor_raw string"
)


def parse_ods_bytes(data: bytes) -> dict[str, list[list[str | None]]]:
    """ZIP → content.xml → {sheet name: cell grid} (strings; empty cells
    None).  Expands ``table:number-columns-repeated`` /
    ``table:number-rows-repeated`` FAITHFULLY — LibreOffice emits repeats
    for interior blank runs (merged-cell blanks), and collapsing those
    would shift later columns/rows left/up.  Repeats are capped at 1024
    (real ODS pads the sheet tail to 2^14 cols / 2^20 rows), and only the
    TRAILING run of all-empty cells per row / all-empty rows per sheet is
    stripped after expansion."""
    with zipfile.ZipFile(io.BytesIO(data)) as zf:
        root = ET.fromstring(zf.read("content.xml"))
    sheets: dict[str, list[list[str | None]]] = {}
    for tbl in root.iter(f"{{{_NS['table']}}}table"):
        name = tbl.get(f"{{{_NS['table']}}}name", "")
        grid: list[list[str | None]] = []
        for row in tbl.findall(f"{{{_NS['table']}}}table-row"):
            cells: list[str | None] = []
            for cell in row.findall(f"{{{_NS['table']}}}table-cell"):
                n_rep = int(
                    cell.get(f"{{{_NS['table']}}}number-columns-repeated", "1")
                )
                value = cell.get(f"{{{_NS['office']}}}value")
                if value is None:
                    texts = [
                        "".join(p.itertext())
                        for p in cell.findall(f"{{{_NS['text']}}}p")
                    ]
                    value = "\n".join(texts) if texts else None
                cells.extend([value] * min(n_rep, 1024))
            # strip only the trailing empty-cell run (sheet-width padding)
            while cells and (cells[-1] is None or cells[-1] == ""):
                cells.pop()
            r_rep = int(row.get(f"{{{_NS['table']}}}number-rows-repeated", "1"))
            grid.extend(list(cells) for _ in range(min(r_rep, 1024)))
        # strip only the trailing empty-row run (sheet-height padding)
        while grid and not any(
            c is not None and c != "" for c in grid[-1]
        ):
            grid.pop()
        sheets[name] = grid
    return sheets


def write_minimal_ods(path: str, sheets: dict[str, list[list]]) -> None:
    """Write a REAL (minimal) .ods: stored ``mimetype`` first, manifest,
    and ``content.xml`` with string cells — round-trips through any
    OpenDocument reader.  Test/fixture writer (the reference downloads
    its files; this container has no network)."""

    def esc(s: str) -> str:
        return (
            s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        )

    tables = []
    for name, grid in sheets.items():
        rows_xml = []
        for row in grid:
            cells_xml = "".join(
                (
                    f'<table:table-cell office:value-type="string">'
                    f"<text:p>{esc(str(c))}</text:p></table:table-cell>"
                    if c is not None and str(c) != ""
                    else "<table:table-cell/>"
                )
                for c in row
            )
            rows_xml.append(f"<table:table-row>{cells_xml}</table:table-row>")
        tables.append(
            f'<table:table table:name="{esc(name)}">{"".join(rows_xml)}'
            "</table:table>"
        )
    content = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        f'<office:document-content xmlns:office="{_NS["office"]}" '
        f'xmlns:table="{_NS["table"]}" xmlns:text="{_NS["text"]}" '
        'office:version="1.2"><office:body><office:spreadsheet>'
        + "".join(tables)
        + "</office:spreadsheet></office:body></office:document-content>"
    )
    manifest = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<manifest:manifest xmlns:manifest='
        '"urn:oasis:names:tc:opendocument:xmlns:manifest:1.0">'
        f'<manifest:file-entry manifest:full-path="/" '
        f'manifest:media-type="{_MIMETYPE}"/>'
        '<manifest:file-entry manifest:full-path="content.xml" '
        'manifest:media-type="text/xml"/></manifest:manifest>'
    )
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(
            zipfile.ZipInfo("mimetype"), _MIMETYPE, zipfile.ZIP_STORED
        )
        zf.writestr("content.xml", content, zipfile.ZIP_DEFLATED)
        zf.writestr("META-INF/manifest.xml", manifest, zipfile.ZIP_DEFLATED)


def _file_to_long(path: str, data: bytes) -> pd.DataFrame:
    """One ODS file → normalized long rows: per service sheet, header-row
    inference (op05) + wide normalization and forward-fill (op09/10/15,
    reusing the exact converter logic) + melt to the fixed LONG_SCHEMA."""
    arquivo = path.rsplit("/", 1)[-1]
    sheets = parse_ods_bytes(data)
    frames = []
    for servico, sheet_name in SERVICE_SHEETS.items():
        if sheet_name not in sheets:
            continue
        grid = sheets[sheet_name]
        width = max((len(r) for r in grid), default=0)
        raw = pd.DataFrame(
            [r + [None] * (width - len(r)) for r in grid], dtype=object
        )
        hdr = detect_header_row(raw)
        body = raw.iloc[hdr + 1 :].reset_index(drop=True)
        body.columns = [str(c) for c in raw.iloc[hdr].tolist()]
        wide = normalize_wide(body, servico, arquivo)
        month_cols = [c for c in wide.columns if _MONTH_PAT.fullmatch(str(c))]
        long = wide.melt(
            id_vars=[
                "GRUPO_ECONOMICO", "VARIAVEL", "SERVICO",
                "ARQUIVO_ORIGEM", "linha_origem",
            ],
            value_vars=month_cols,
            var_name="ano_mes",
            value_name="valor_raw",
        )
        frames.append(long)
    if not frames:
        return pd.DataFrame(
            columns=[
                "GRUPO_ECONOMICO", "VARIAVEL", "SERVICO", "ARQUIVO_ORIGEM",
                "linha_origem", "ano_mes", "valor_raw",
            ]
        )
    out = pd.concat(frames, ignore_index=True)
    out["linha_origem"] = out["linha_origem"].astype("int32")
    return out


def read_ods_long(spark: SparkSession, path: str) -> DataFrame:
    """Distributed ODS scan: binaryFile rows → per-file parse in
    mapInPandas → fixed-schema long rows."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for p, data in zip(pdf["path"], pdf["content"]):
                out = _file_to_long(p, bytes(data))
                if len(out):
                    yield out

    files = spark.read.format("binaryFile").load(path).select("path", "content")
    return files.mapInPandas(gen, LONG_SCHEMA)


def fetch_ods_long(
    manifest: DataFrame,
    timeout: float = 60.0,
    allow_file: bool = False,
    max_retries: int = 3,
) -> DataFrame:
    """op03 in its DISTRIBUTED form (reference fetches each resource
    in-process on one machine, etl/etl_ida.py:714-730): the resource
    manifest — one row per URL, built by op01/op02
    (sources/manifest.py) — is hash-repartitioned on ``url`` so each
    executor task fetches ITS OWN subset (urllib: ``http(s)://`` and
    ``file://`` alike, so the sandbox exercises the real code path
    against local fixtures), and parses the bytes to normalized long
    rows in the SAME Arrow stage.

    The manifest URLs come from an UNTRUSTED external catalog, so the
    fetch enforces an http(s) scheme allowlist; only an explicit
    ``allow_file=True`` from the CALLER (tests/fixtures) opens file://.
    ``max_retries`` is the reference's MAX_RETRIES budget
    (etl_ida.py:80) applied per-resource on the executor.

    Scale shape: fetch and decode are fused, so raw spreadsheet bytes
    never cross a shuffle and never funnel through the driver — at 10⁶
    resources the manifest is just another table and the fetch fans out
    with the cluster.  One file per row (a zip member cannot be split),
    the same parallelism unit as the binaryFile scan."""
    from .manifest import fetch_to_memory

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for u in pdf["url"]:
                data = fetch_to_memory(
                    u,
                    timeout=timeout,
                    allow_file=allow_file,
                    max_retries=max_retries,
                )
                out = _file_to_long(u, data)
                if len(out):
                    yield out

    urls = manifest.select("url").repartition(F.col("url"))
    return urls.mapInPandas(gen, LONG_SCHEMA)

