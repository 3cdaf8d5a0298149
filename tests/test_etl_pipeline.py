"""ETL transform-semantics tests against the FIXTURES.md §2 dirty fixture —
ffill, unpivot, dirty-value parsing, recode pass-through, dedup idempotency,
silent-drop key resolution, the fact plan's shape and write_star's job
attribution.  Golden values hand-computed from the reference
semantics (/root/reference/etl/etl_ida.py:277-429)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def wide(spark):
    cols = (
        "linha_origem int, GRUPO_ECONOMICO string, VARIAVEL string, "
        "`2017-01` string, `2017-02` string, SERVICO string, ARQUIVO_ORIGEM string"
    )
    rows = [
        # ffill: rows 2-3 inherit CLARO S.A.; recode → CLARO
        (1, "CLARO S.A.", "Taxa de Respondidas em 5 dias Úteis", "12,34", "56,7%", "SMP", "SMP_2017.ods"),
        (2, None, "Índice de Reclamações", "89.5", "-", "SMP", "SMP_2017.ods"),
        (3, None, "Metrica Desconhecida", "100", "abc", "SMP", "SMP_2017.ods"),
        # recode to VIVO; doubled internal spaces collapse
        (4, "TELEFÔNICA  BRASIL  S.A.", "Taxa de Respondidas em 5 dias Úteis", "", "nan", "SMP", "SMP_2017.ods"),
        # unknown group passes through
        (5, "ACME TELECOM", "Taxa de Respondidas em 5 dias Úteis", "50", "60", "SMP", "SMP_2017.ods"),
        # blank grupo+variavel row dropped entirely (after ffill fills grupo,
        # variavel stays blank → dropped)
        (6, None, "   ", None, None, "SMP", "SMP_2017.ods"),
        # second file: independent ffill partition
        (1, "OI S.A.", "Taxa de Respondidas em 5 dias Úteis", "1,5", "2,5", "STFC", "STFC_2017.ods"),
    ]
    return spark.createDataFrame(rows, cols)


def _records(spark, wide):
    from ida_dataengineerproject_spark.plans.etl import transform_wide

    return transform_wide(wide)


def test_transform_golden(spark, wide):
    rec = _records(spark, wide)
    got = {
        (r.grupo_economico, r.variavel, str(r.ano_mes), r.valor)
        for r in rec.collect()
    }
    expected = {
        # row 1: CLARO recode; comma decimal + percent strip
        ("CLARO", "TAXA_RESP_5DIAS", "2017-01-01", 12.34),
        ("CLARO", "TAXA_RESP_5DIAS", "2017-02-01", 56.7),
        # row 2: ffill CLARO; '-' skipped
        ("CLARO", "INDICE_RECL", "2017-01-01", 89.5),
        # row 3: ffill CLARO; unknown variable passes through; 'abc' skipped
        ("CLARO", "Metrica Desconhecida", "2017-01-01", 100.0),
        # row 4: VIVO after whitespace collapse + recode; both cells invalid
        # row 5: unknown group pass-through
        ("ACME TELECOM", "TAXA_RESP_5DIAS", "2017-01-01", 50.0),
        ("ACME TELECOM", "TAXA_RESP_5DIAS", "2017-02-01", 60.0),
        # second file: own ffill chain
        ("OI", "TAXA_RESP_5DIAS", "2017-01-01", 1.5),
        ("OI", "TAXA_RESP_5DIAS", "2017-02-01", 2.5),
    }
    assert got == expected


def test_hash_unique_and_stable(spark, wide):
    rec = _records(spark, wide)
    n = rec.count()
    assert rec.select("hash_registro").distinct().count() == n
    # deterministic across runs
    h1 = sorted(r.hash_registro for r in rec.collect())
    h2 = sorted(r.hash_registro for r in _records(spark, wide).collect())
    assert h1 == h2


def test_ingest_idempotent(spark, wide):
    """Running ingest twice must not grow the fact (ON CONFLICT DO NOTHING,
    etl_ida.py:534)."""
    from ida_dataengineerproject_spark.plans.etl import ingest

    star1 = ingest(spark, wide)
    fact1 = star1["fact_ida"].cache()
    n1 = fact1.count()

    star2 = ingest(spark, wide, existing_fact=fact1)
    assert star2["fact_ida"].count() == 0  # everything already present
    assert fact1.count() == n1


def test_dims_and_key_resolution(spark, wide):
    from ida_dataengineerproject_spark.plans.etl import build_dims, ingest

    star = ingest(spark, wide)
    rec_n = _records(spark, wide).count()
    # every record resolved (all dims built from the same records → no drops)
    assert star["fact_ida"].count() == rec_n
    dims = build_dims(_records(spark, wide))
    assert dims["dim_servico"].count() == 2  # SMP, STFC
    grupos = {r.grupo_codigo for r in dims["dim_grupo_economico"].collect()}
    assert grupos == {"CLARO", "ACME TELECOM", "OI"}
    # surrogate keys unique
    assert (
        dims["dim_grupo_economico"].select("grupo_key").distinct().count()
        == dims["dim_grupo_economico"].count()
    )


@pytest.fixture(scope="module")
def wide_null_servico(spark, wide):
    """The fixture plus a third file whose second row has no SERVICO."""
    extra = spark.createDataFrame(
        [
            (1, "GRUPO TIM", "Taxa de Respondidas em 5 dias Úteis", "7", "8", "SCM", "SCM_2017.ods"),
            (2, None, "Índice de Reclamações", "3,5", "4", None, "SCM_2017.ods"),
        ],
        wide.schema,
    )
    return wide.unionByName(extra)


def test_null_servico_record_dropped_from_fact(spark, wide_null_servico):
    """A record whose natural key is NULL never resolves to a dim row, so
    it is silently dropped from the fact (inner-join semantics,
    etl_ida.py:550-551)."""
    from ida_dataengineerproject_spark.plans.etl import ingest

    rec = _records(spark, wide_null_servico)
    dropped = {r.hash_registro for r in rec.filter(F.col("servico").isNull()).collect()}
    assert len(dropped) == 2  # row 2 of the SCM file, both months

    fact = ingest(spark, wide_null_servico)["fact_ida"]
    kept = {r.hash_registro for r in fact.collect()}
    assert kept.isdisjoint(dropped)
    assert len(kept) == rec.count() - len(dropped)


def test_fact_rows_join_exactly_one_row_of_each_dim(spark, wide_null_servico):
    from ida_dataengineerproject_spark.plans.etl import ingest

    star = ingest(spark, wide_null_servico)
    fact = star["fact_ida"]
    n = fact.count()
    assert n > 0
    for dim, key in [
        ("dim_tempo", "tempo_key"),
        ("dim_grupo_economico", "grupo_key"),
        ("dim_servico", "servico_key"),
        ("dim_variavel", "variavel_key"),
    ]:
        per_key = star[dim].groupBy(key).agg(F.count("*").alias("dim_rows"))
        matches = fact.join(per_key, key, "left").select("dim_rows").collect()
        assert len(matches) == n
        assert all(r.dim_rows == 1 for r in matches), dim


def _node_counts(df) -> dict[str, int]:
    """Window/Expand/BroadcastExchange nodes and aggregates of any kind
    (hash, object-hash, sort) in the final adaptive plan."""
    df.collect()  # finalize the adaptive plan
    txt = df._jdf.queryExecution().executedPlan().toString()
    final = txt.split("== Initial Plan ==")[0]
    found = re.findall(
        r"(?m)^[\s:|+-]*(?:\*\(\d+\) )?"
        r"(Window|Expand|BroadcastExchange|(?:Hash|ObjectHash|Sort)Aggregate)\b",
        final,
    )
    found = ["Aggregate" if k.endswith("Aggregate") else k for k in found]
    return {
        k: found.count(k)
        for k in ("Window", "Expand", "BroadcastExchange", "Aggregate")
    }


def test_fact_plan_derives_records_once(spark, wide, tmp_path):
    """The fact plan derives the record stream once (one ffill Window,
    one unpivot Expand) and joins no dim, with and without an existing
    fact; the anti join against the existing fact adds no aggregate
    (duplicate keys on its right side cannot change its output).
    Size-based broadcasts are off inside the check: the anti join
    against a small existing fact may broadcast, so only a hinted join
    would still show a BroadcastExchange."""
    from ida_dataengineerproject_spark.plans.etl import ingest, write_star
    from ida_dataengineerproject_spark.session import scoped_conf

    write_star(ingest(spark, wide), str(tmp_path))
    existing = spark.read.parquet(str(tmp_path / "fact_ida"))
    once = {"Window": 1, "Expand": 1, "BroadcastExchange": 0}
    with scoped_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        plain = _node_counts(ingest(spark, wide)["fact_ida"])
        assert {k: plain[k] for k in once} == once
        assert _node_counts(ingest(spark, wide, existing_fact=existing)["fact_ida"]) == plain


def test_write_star_jobs_carry_caller_job_group(spark, wide, tmp_path):
    """The pooled table writes inherit the caller's job group, so every
    job write_star launches is attributed to the caller."""
    from ida_dataengineerproject_spark.plans.etl import ingest, write_star

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    star = ingest(spark, wide)
    sc.setJobGroup("write-star-caller", "write_star job-group test")
    try:
        first = jsc.dagScheduler().nextJobId()
        write_star(star, str(tmp_path))
        last = jsc.dagScheduler().nextJobId()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jsc.listenerBus().waitUntilEmpty()
    assert last - first >= len(star)  # at least one job per table
    groups = [jsc.statusStore().job(j).jobGroup() for j in range(first, last)]
    assert {g.get() if g.isDefined() else None for g in groups} == {"write-star-caller"}


def test_write_star_partitioned(spark, wide, tmp_path):
    from ida_dataengineerproject_spark.plans.etl import ingest, write_star

    star = ingest(spark, wide)
    write_star(star, str(tmp_path))
    fact = spark.read.parquet(str(tmp_path / "fact_ida"))
    assert fact.count() == star["fact_ida"].count()
    assert "ano" in fact.columns  # partition column survived
    # the built fact already has the columns, order and types of the fact
    # read back, the partition column last
    assert star["fact_ida"].dtypes == fact.dtypes


def test_ingest_rerun_is_idempotent(spark, wide, tmp_path):
    """Run-twice stability: re-ingesting the same sheets against the fact
    read back from parquet must add zero rows (ON CONFLICT DO NOTHING,
    etl_ida.py:534) and leave the written star row-count-stable."""
    from ida_dataengineerproject_spark.plans.etl import ingest, write_star

    star = ingest(spark, wide)
    write_star(star, str(tmp_path))
    fact1 = spark.read.parquet(str(tmp_path / "fact_ida"))
    n1 = fact1.count()

    rerun = ingest(spark, wide, existing_fact=fact1)
    assert rerun["fact_ida"].count() == 0

    # writing the (empty) delta plus existing content keeps counts stable
    assert fact1.unionByName(
        rerun["fact_ida"], allowMissingColumns=True
    ).count() == n1
