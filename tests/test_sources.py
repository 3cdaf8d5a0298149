"""Source-layer tests: manifest filtering (op01/02), header inference +
wide normalization (op04/05/09/10), bootstrap + health check (op07/08)."""

from __future__ import annotations

import pandas as pd
import pytest

from .conftest import SF_SMOKE


def test_filter_resources(spark):
    from ida_dataengineerproject_spark.sources.manifest import (
        Resource,
        filter_resources,
        manifest_df,
    )

    res = [
        Resource("IDA SMP 2018 dados", "http://x/1.ods", "ODS"),
        Resource("IDA STFC 2017", "http://x/2.ods", "ods"),
        Resource("IDA SCM 2016", "http://x/3.ods", "ods"),  # year out of range
        Resource("Relatório anual 2018", "http://x/4.pdf", "pdf"),  # no service
        Resource("IDA SMP 2019", "http://x/5.ods", "ods"),
    ]
    out = filter_resources(manifest_df(spark, res)).collect()
    got = {(r.servico, r.ano) for r in out}
    assert got == {("SMP", 2018), ("STFC", 2017), ("SMP", 2019)}


def test_detect_header_row():
    from ida_dataengineerproject_spark.sources.converters import detect_header_row

    raw = pd.DataFrame(
        [["Relatório IDA", None, None, None]] * 8
        + [["GRUPO ECONOMICO", "VARIAVEL", "2017-01", "2017-02"]]
        + [["CLARO S.A.", "Taxa", "1", "2"]] * 3
    )
    assert detect_header_row(raw) == 8
    junk = pd.DataFrame([["a", "b", "c", "d"]] * 25)
    assert detect_header_row(junk) == 8  # fallback default


def test_normalize_wide_and_ingest_end_to_end(spark):
    from ida_dataengineerproject_spark.plans.etl import ingest
    from ida_dataengineerproject_spark.sources.converters import (
        normalize_wide,
    )

    sheet = pd.DataFrame(
        {
            "Grupo Econômico": ["CLARO S.A.", None],
            "Variável": ["Taxa de Respondidas em 5 dias Úteis"] * 2,
            "2017-01 ": ["1,5", "2,5"],
            pd.Timestamp("2017-02-01"): ["3", "4"],
        }
    )
    wide = normalize_wide(sheet, "SMP", "SMP_2017.ods")
    assert list(wide.columns[:2]) == ["GRUPO_ECONOMICO", "VARIAVEL"]
    assert "2017-01" in wide.columns and "2017-02" in wide.columns
    sdf = spark.createDataFrame(wide)
    star = ingest(spark, sdf)
    fact = star["fact_ida"]
    assert fact.count() == 4  # 2 rows × 2 months, ffill fills row 2


def test_bootstrap_and_health(spark):
    from ida_dataengineerproject_spark.plans.bootstrap import (
        bootstrap_views,
        health_check,
    )

    names = bootstrap_views(spark, SF_SMOKE)
    assert "lineitem" in names
    status = health_check(spark, ["lineitem", "orders", "no_such_table"])
    assert status["lineitem"] and status["orders"]
    assert not status["no_such_table"]


def test_csv_jsonl_roundtrip_and_quarantine(spark, tmp_path):
    """CSV/JSONL scan wrappers: explicit schema, malformed rows
    quarantined (not failures)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from ida_dataengineerproject_spark.sources.text_formats import (
        CORRUPT_COL,
        read_csv,
        read_jsonl,
    )

    def split(parsed):
        # both sides read a data column too: Spark refuses a plan that
        # reads only the corrupt-record column of a raw text scan
        bad = parsed.filter(F.col(CORRUPT_COL).isNotNull())
        clean = parsed.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
        return clean, bad

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )

    csv_path = str(tmp_path / "in.csv")
    with open(csv_path, "w") as f:
        f.write("id,name,score\n1,alice,0.5\n2,bob,0.75\nnot_a_long,x,oops\n")
    clean, bad = split(read_csv(spark, csv_path, schema))
    assert {(r.id, r.name) for r in clean.collect()} == {(1, "alice"), (2, "bob")}
    assert len(bad.collect()) == 1

    jsonl_path = str(tmp_path / "in.jsonl")
    with open(jsonl_path, "w") as f:
        f.write('{"id": 1, "name": "alice", "score": 0.5}\n')
        f.write("this is not json\n")
        f.write('{"id": 3, "name": "carol", "score": 1.0}\n')
    clean_j, bad_j = split(read_jsonl(spark, jsonl_path, schema))
    assert {r.id for r in clean_j.collect()} == {1, 3}
    assert len(bad_j.collect()) == 1


def test_fetch_catalog_file_scheme(tmp_path):
    """op01/op03 live path: fetch_catalog + fetch_to_memory run the real
    urllib code against a file:// fixture shaped like the dados.gov.br
    payload (the sandbox has no network; the code path is identical)."""
    import json

    from ida_dataengineerproject_spark.sources.manifest import (
        fetch_catalog,
        fetch_to_memory,
    )

    ds = tmp_path / "ida-dataset"
    ds.write_text(
        json.dumps(
            {
                "recursos": [
                    {"titulo": "IDA SMP 2017", "link": "http://x/smp.ods",
                     "formato": "ODS"},
                    {"titulo": "IDA STFC 2018", "link": "http://x/stfc.ods",
                     "formato": "ods"},
                ]
            }
        )
    )
    res = fetch_catalog(
        "ida-dataset", api_base=f"file://{tmp_path}", allow_file=True
    )
    assert [r.titulo for r in res] == ["IDA SMP 2017", "IDA STFC 2018"]
    assert res[0].formato == "ods"

    blob = tmp_path / "payload.bin"
    blob.write_bytes(b"\x00\x01spreadsheet-bytes")
    assert (
        fetch_to_memory(f"file://{blob}", allow_file=True)
        == b"\x00\x01spreadsheet-bytes"
    )


@pytest.mark.parametrize(
    "sf_dir",
    ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"],
)
def test_events_ts_normalized_per_sfdir(spark, sf_dir):
    """Invariant: whatever encoding the testdata generator ships, table()
    must hand every consumer a plain (session-TZ) `timestamp` ts column.
    This regressed once (round 3: timestamp[us]-NTZ broke sessionize); the
    testdata WILL change under us again."""
    import os

    from ida_dataengineerproject_spark.sources.tables import table

    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} absent")
    df = table(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"


def test_events_ts_all_three_encodings(spark, tmp_path):
    """table() normalizes every ts encoding the testdata has ever shipped —
    int64 TIMESTAMP(NANOS), timestamp[us] without TZ (Spark TIMESTAMP_NTZ),
    timestamp[us] UTC — to identical `timestamp` instants, so sessionize &
    co. never see encoding drift."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ida_dataengineerproject_spark.operators.sessionize import sessionize
    from ida_dataengineerproject_spark.sources.tables import table

    base_us = [1_500_000_000_000_000, 1_500_000_000_123_456, 1_500_003_700_000_000]
    cols = {
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "user_id": pa.array([7, 7, 7], pa.int64()),
        "event_type": pa.array(["a", "b", "c"]),
        "value": pa.array([1.0, 2.0, 3.0]),
        "props": pa.array(["{}", "{}", "{}"]),
    }
    encodings = {
        "nanos": pa.array([u * 1000 for u in base_us], pa.timestamp("ns")),
        "ntz_us": pa.array(base_us, pa.timestamp("us")),
        "utc_us": pa.array(base_us, pa.timestamp("us", tz="UTC")),
    }
    results = {}
    for enc, ts_arr in encodings.items():
        d = tmp_path / enc
        d.mkdir()
        pq.write_table(
            pa.table({**cols, "ts": ts_arr}), d / "events.parquet"
        )
        df = table(spark, str(d), "events")
        assert dict(df.dtypes)["ts"] == "timestamp", enc
        rows = sessionize(df).select("event_id", "ts", "session_seq").collect()
        results[enc] = sorted((r.event_id, r.ts, r.session_seq) for r in rows)
    assert results["nanos"] == results["ntz_us"] == results["utc_us"]
    # 3rd event is >30 min after the 2nd -> new session
    assert [s for _, _, s in results["ntz_us"]] == [1, 1, 2]


def test_io_roundtrip_queries_are_session_idempotent(spark):
    """Running xio1/xio2 twice in ONE session must give identical results:
    the second run overwrites the landed directory and then injects the
    garbage file, so a stale listing of the first run's path would lose
    its quarantine rows; the explicit refreshByPath drops it (caught by
    the round-5 gate)."""
    import __spark_entry__ as e

    from tests.conftest import SF_SMOKE

    for name in ("xio1_jsonl_roundtrip", "xio2_csv_roundtrip"):
        q = e.queries()[name]
        first = sorted(map(tuple, q(spark, SF_SMOKE).collect()))
        second = sorted(map(tuple, q(spark, SF_SMOKE).collect()))
        assert first == second, name
        quarantined = [r for r in second if r[0] == "__quarantined__"]
        assert quarantined and quarantined[0][1] == 2, name


def test_auth_header_injected_into_request(tmp_path):
    """op01 auth surface (etl_ida.py:667,677): the catalog request must
    carry the ``chave-api-dados-abertos`` header when an API key is
    configured — asserted on the constructed Request (offline), then the
    same code path is driven end-to-end over file:// where the header is
    legitimately ignored."""
    import json as _json

    from ida_dataengineerproject_spark.sources.manifest import (
        API_KEY_HEADER,
        build_request,
        fetch_catalog,
    )

    req = build_request("https://example.invalid/x", api_key="sekret-123")
    assert req.get_header(API_KEY_HEADER.capitalize()) == "sekret-123"
    # extra headers survive alongside the key
    req2 = build_request(
        "https://example.invalid/x",
        api_key="k",
        headers={"Accept": "application/json"},
    )
    assert req2.get_header("Accept") == "application/json"
    assert req2.get_header(API_KEY_HEADER.capitalize()) == "k"
    # no key → no auth header
    assert build_request("file:///x").get_header(
        API_KEY_HEADER.capitalize()
    ) is None

    (tmp_path / "ida-key").write_text(
        _json.dumps({"recursos": [
            {"titulo": "SMP 2018", "link": "file:///r", "formato": "ODS"}
        ]})
    )
    res = fetch_catalog(
        "ida-key",
        api_base=f"file://{tmp_path}",
        api_key="sekret-123",
        allow_file=True,
    )
    assert [r.titulo for r in res] == ["SMP 2018"]
