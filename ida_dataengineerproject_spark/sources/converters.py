"""Wide-sheet conversion utilities (reference op04/op05/op09/op10).

The reference reads service-specific ODS sheets with pandas
(etl/etl_ida.py:171-176, 215-246) and infers the header row by scanning the
first 20 raw rows (:259-274).  ODS parsing is inherently driver-side (the
odf engine is not splittable); at scale the conversion fans out as one
driver task per FILE, each producing parquet that the distributed engine
scans.  Here the pandas step is reproduced for parity tests; the engine's
data plane only ever sees the resulting DataFrame.
"""

from __future__ import annotations

import re

import pandas as pd

_MONTH_PAT = re.compile(r"(20[0-3][0-9])-(0[1-9]|1[0-2])")

# sheet per service (etl_ida.py:171-176)
SERVICE_SHEETS = {"SMP": "Móvel_Pessoal", "STFC": "Fixo", "SCM": "Banda_Larga"}


def detect_header_row(raw: pd.DataFrame, scan_rows: int = 20, default: int = 8) -> int:
    """op05 (etl_ida.py:259-274): header = first row containing both
    'GRUPO' and 'VARIAVEL' tokens, or any YYYY-MM pattern; fallback 8."""
    for i in range(min(scan_rows, len(raw))):
        cells = [str(c).upper() for c in raw.iloc[i].tolist()]
        joined = " ".join(cells)
        if ("GRUPO" in joined and "VARIAVEL" in joined) or any(
            _MONTH_PAT.search(c) for c in cells
        ):
            return i
    return default


def normalize_wide(
    sheet: pd.DataFrame, servico: str, arquivo_origem: str
) -> pd.DataFrame:
    """op09/op10 (etl_ida.py:238-246): first two columns → GRUPO_ECONOMICO,
    VARIAVEL; attach SERVICO / ARQUIVO_ORIGEM literals and an explicit
    linha_origem row index (the sheet order — SURVEY.md §7.4.1).  op15
    (etl_ida.py:249) runs here, once per sheet: merged-cell group names
    are forward-filled down this sheet only, never into another one."""
    out = sheet.copy()
    cols = list(out.columns)
    rename = {cols[0]: "GRUPO_ECONOMICO", cols[1]: "VARIAVEL"}
    for c in cols[2:]:
        m = _MONTH_PAT.search(str(c))
        if m:
            rename[c] = f"{m.group(1)}-{m.group(2)}"
    out.columns = [rename.get(c, c) for c in cols]
    month_cols = [c for c in out.columns if _MONTH_PAT.fullmatch(str(c))]
    out = out[["GRUPO_ECONOMICO", "VARIAVEL"] + month_cols]
    out["GRUPO_ECONOMICO"] = out["GRUPO_ECONOMICO"].ffill()  # op15
    out[month_cols] = out[month_cols].astype("string")
    out["SERVICO"] = servico
    out["ARQUIVO_ORIGEM"] = arquivo_origem
    out["linha_origem"] = range(1, len(out) + 1)
    return out
