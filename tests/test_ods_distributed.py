"""Distributed ODS reading: stdlib zip+XML parser under binaryFile +
mapInPandas, through header inference, the per-sheet forward-fill and the
full transform chain."""

from __future__ import annotations

from pyspark.sql import functions as F


def _grid(servico_label: str):
    """Reference-shaped sheet: junk preamble, header at row 2, merged-cell
    group names (blank rows below), comma decimals, '-' invalid cells."""
    return [
        ["Indicadores IDA", None],
        [None],
        ["GRUPO ECONOMICO", "VARIAVEL", "2019-01", "2019-02"],
        ["ACME", "Taxa de Respondidas em 5 dias Úteis", "10,5", "12,0"],
        [None, "Taxa de Respondidas em 5 dias Úteis", "7,25", "-"],
        ["OUTRA", "Taxa de Respondidas em 5 dias Úteis", "3,0", "4,5"],
    ]


def test_ods_roundtrip_parse(tmp_path):
    from ida_dataengineerproject_spark.sources.ods import (
        parse_ods_bytes,
        write_minimal_ods,
    )

    p = str(tmp_path / "t.ods")
    write_minimal_ods(p, {"Móvel_Pessoal": _grid("SMP")})
    sheets = parse_ods_bytes(open(p, "rb").read())
    assert "Móvel_Pessoal" in sheets
    g = sheets["Móvel_Pessoal"]
    assert g[2][0] == "GRUPO ECONOMICO" and g[3][2] == "10,5"
    assert g[4][0] is None  # merged-cell blank survives


def test_ods_repeated_columns_expand():
    import io
    import zipfile

    from ida_dataengineerproject_spark.sources.ods import (
        _MIMETYPE,
        _NS,
        parse_ods_bytes,
    )

    content = (
        '<?xml version="1.0"?>'
        f'<office:document-content xmlns:office="{_NS["office"]}" '
        f'xmlns:table="{_NS["table"]}" xmlns:text="{_NS["text"]}">'
        '<office:body><office:spreadsheet>'
        '<table:table table:name="S"><table:table-row>'
        '<table:table-cell office:value-type="string" '
        'table:number-columns-repeated="3"><text:p>x</text:p>'
        "</table:table-cell><table:table-cell/>"
        "</table:table-row></table:table>"
        "</office:spreadsheet></office:body></office:document-content>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("mimetype", _MIMETYPE)
        zf.writestr("content.xml", content)
    assert parse_ods_bytes(buf.getvalue())["S"][0][:3] == ["x", "x", "x"]


def _ods_of(content_body: str) -> bytes:
    import io
    import zipfile

    from ida_dataengineerproject_spark.sources.ods import _MIMETYPE, _NS

    content = (
        '<?xml version="1.0"?>'
        f'<office:document-content xmlns:office="{_NS["office"]}" '
        f'xmlns:table="{_NS["table"]}" xmlns:text="{_NS["text"]}">'
        "<office:body><office:spreadsheet>"
        + content_body
        + "</office:spreadsheet></office:body></office:document-content>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("mimetype", _MIMETYPE)
        zf.writestr("content.xml", content)
    return buf.getvalue()


def test_ods_interior_repeated_empty_cells_expand():
    """LibreOffice emits number-columns-repeated for INTERIOR blank runs
    (e.g. merged cells); collapsing them would shift later month columns
    left.  Interior empties must expand; only the trailing run is
    stripped."""
    from ida_dataengineerproject_spark.sources.ods import parse_ods_bytes

    body = (
        '<table:table table:name="S"><table:table-row>'
        "<table:table-cell><text:p>a</text:p></table:table-cell>"
        '<table:table-cell table:number-columns-repeated="3"/>'
        "<table:table-cell><text:p>b</text:p></table:table-cell>"
        '<table:table-cell table:number-columns-repeated="16380"/>'
        "</table:table-row></table:table>"
    )
    row = parse_ods_bytes(_ods_of(body))["S"][0]
    # 3 interior empties preserved, b lands at index 4, trailing padding gone
    assert row == ["a", None, None, None, "b"]


def test_ods_interior_repeated_empty_rows_expand():
    """Repeated EMPTY rows between data rows shift linha_origem if
    collapsed; they must expand, while trailing empty-row padding is
    stripped."""
    from ida_dataengineerproject_spark.sources.ods import parse_ods_bytes

    body = (
        '<table:table table:name="S">'
        "<table:table-row><table:table-cell><text:p>top</text:p>"
        "</table:table-cell></table:table-row>"
        '<table:table-row table:number-rows-repeated="2">'
        "<table:table-cell/></table:table-row>"
        "<table:table-row><table:table-cell><text:p>bottom</text:p>"
        "</table:table-cell></table:table-row>"
        '<table:table-row table:number-rows-repeated="1048570">'
        "<table:table-cell/></table:table-row>"
        "</table:table>"
    )
    grid = parse_ods_bytes(_ods_of(body))["S"]
    assert [r[0] if r else None for r in grid] == ["top", None, None, "bottom"]


def _merged_grid(group: str):
    """One group name over three rows (a merged cell), no preamble."""
    return [
        ["GRUPO ECONOMICO", "VARIAVEL", "2019-01"],
        [group, "Taxa de Respondidas em 5 dias Úteis", "1,0"],
        [None, "Índice de Reclamações", "2,0"],
        [None, "Quantidade de Reclamações", "3,0"],
    ]


def test_ods_distributed_to_records(spark, tmp_path):
    """Three real ODS files → binaryFile scan → long → transform_long:
    values parsed, '-' dropped, group names forward-filled within their
    own sheet only (the third file holds two service sheets), header row
    inferred past the preamble.  Building the records runs no job."""
    from ida_dataengineerproject_spark.plans.etl import transform_long
    from ida_dataengineerproject_spark.sources.ods import (
        read_ods_long,
        write_minimal_ods,
    )

    write_minimal_ods(
        str(tmp_path / "smp_2019.ods"), {"Móvel_Pessoal": _grid("SMP")}
    )
    write_minimal_ods(str(tmp_path / "stfc_2019.ods"), {"Fixo": _grid("STFC")})
    write_minimal_ods(
        str(tmp_path / "both_2019.ods"),
        {"Móvel_Pessoal": _merged_grid("CLARO S.A."), "Fixo": _merged_grid("OI S.A.")},
    )

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.dagScheduler().nextJobId()
    long = read_ods_long(spark, str(tmp_path) + "/*.ods")
    rec = transform_long(long)
    assert jsc.dagScheduler().nextJobId() == before

    # 2 files x 3 data rows x 2 months + 2 sheets x 3 rows x 1 month
    assert long.count() == 2 * 3 * 2 + 2 * 3
    rows = {
        (r.servico, r.grupo_economico, str(r.ano_mes), float(r.valor))
        for r in rec.filter(F.col("arquivo_origem") != "both_2019.ods").collect()
    }
    # ffill: blank row belongs to ACME; '-' cell dropped
    assert ("SMP", "ACME", "2019-01-01", 10.5) in rows
    assert ("SMP", "ACME", "2019-02-01", 12.0) in rows
    assert ("SMP", "ACME", "2019-01-01", 7.25) in rows
    assert ("STFC", "OUTRA", "2019-02-01", 4.5) in rows
    assert not any(v == "-" for *_, v in rows)
    n_smp = rec.filter(
        (F.col("servico") == "SMP") & (F.col("arquivo_origem") == "smp_2019.ods")
    ).count()
    assert n_smp == 5  # 6 cells minus the '-' one

    both = sorted(
        (r.servico, r.linha_origem, r.grupo_economico)
        for r in rec.filter(F.col("arquivo_origem") == "both_2019.ods").collect()
    )
    assert both == [
        ("SMP", 1, "CLARO"), ("SMP", 2, "CLARO"), ("SMP", 3, "CLARO"),
        ("STFC", 1, "OI"), ("STFC", 2, "OI"), ("STFC", 3, "OI"),
    ]


def test_fetch_ods_long_distributed(spark, tmp_path):
    """op03 distributed-fetch form: manifest of file:// URLs → executor-side
    urllib fetch fused with the ODS parse in one Arrow stage.  Decoy URLs
    (dropped by op02's filter) do not exist — if filtering regressed, the
    fetch itself would raise, so passing proves both fetch and filter."""
    from ida_dataengineerproject_spark.sources.manifest import (
        Resource,
        filter_resources,
        manifest_df,
    )
    from ida_dataengineerproject_spark.sources.ods import (
        fetch_ods_long,
        write_minimal_ods,
    )

    p = tmp_path / "smp_2019.ods"
    write_minimal_ods(str(p), {"Móvel_Pessoal": _grid("SMP")})
    resources = [
        Resource("IDA 2019 - SMP", p.as_uri(), "ods"),
        Resource("IDA 2019 - SMP", (tmp_path / "nope.ods").as_uri(), "pdf"),
        Resource("IDA 1999 - SMP", (tmp_path / "nope2.ods").as_uri(), "ods"),
    ]
    man = filter_resources(
        manifest_df(spark, resources), services=("SMP",), years=(2019,)
    )
    long = fetch_ods_long(man, allow_file=True)
    rows = long.collect()
    # 3 data rows x 2 months, ARQUIVO_ORIGEM = url basename
    assert len(rows) == 6
    assert {r.ARQUIVO_ORIGEM for r in rows} == {"smp_2019.ods"}
    vals = {
        (r.ano_mes, r.linha_origem): r.valor_raw for r in rows
    }
    assert vals[("2019-01", 1)] == "10,5" and vals[("2019-02", 2)] == "-"
