"""ODS-at-runtime under the oracle gate: real .ods files (zip+XML,
written driver-side from `nation` as the stand-in for the reference's
downloaded spreadsheets) → DISTRIBUTED binaryFile scan → stdlib parse in
mapInPandas → header inference → per-sheet ffill → the long transform chain →
month-over-month readout.  Companion to `pipeline_ingest_ida` (which
covers star persistence + idempotency); this entry pins the runtime ODS
parsing path the reference does with pandas+odf on one machine
(/root/reference/etl/etl_ida.py:171-176, 215-246).
"""

from __future__ import annotations

import shutil
import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.aggs import avg_exact
from ..plans.etl import transform_long
from ..registry import register
from ..sources.ods import read_ods_long, write_minimal_ods
from ..sources.tables import table

_SHEET_OF = {"SMP": "Móvel_Pessoal", "STFC": "Fixo"}
_OFF = {"SMP": 0, "STFC": 40}


def _ods_grid(nation_rows, off: int, invalid: tuple[int, int] = (1, 5)):
    """Reference-shaped grid: preamble rows, header at index 2, group
    names only on every 3rd data row (merged-cell style), comma-decimal
    values, '-' invalid cells at k%mod==0 in the month at ``invalid``
    = (0-based month index, modulus)."""
    inv_idx, inv_mod = invalid
    grid = [
        ["Indicadores IDA - dados brutos", None],
        [None],
        ["GRUPO ECONOMICO", "VARIAVEL", "2017-01", "2017-02", "2017-03"],
    ]
    for r in nation_rows:
        k = r.n_nationkey
        cells = [
            f"{k + off},5",
            f"{(k + off) * 2},0",
            f"{(k + off) * 3},25",
        ]
        if k % inv_mod == 0:
            cells[inv_idx] = "-"
        grid.append(
            [
                r.n_name if k % 3 == 0 else None,
                "Taxa de Respondidas em 5 dias Úteis",
                *cells,
            ]
        )
    return grid


@register(
    "pipeline_ingest_ods",
    """
    WITH months(mes, mul, frac) AS (
        VALUES ('2017-01', 1, 0.5), ('2017-02', 2, 0.0), ('2017-03', 3, 0.25)),
    svc(servico, off) AS (VALUES ('SMP', 0), ('STFC', 40)),
    vals AS (
        SELECT s.servico, m.mes,
               CAST((n.n_nationkey + s.off) * m.mul + m.frac AS DOUBLE) AS valor
        FROM nation n, months m, svc s
        WHERE NOT (m.mes = '2017-02' AND n.n_nationkey % 5 = 0)),
    agg AS (
        SELECT servico, mes,
               CAST(SUM(CAST(valor AS DECIMAL(38,6))) AS DOUBLE) / COUNT(valor)
                 AS valor_medio,
               COUNT(*) AS n
        FROM vals GROUP BY servico, mes),
    lagd AS (
        SELECT servico, mes, valor_medio, n,
               LAG(valor_medio) OVER (PARTITION BY servico ORDER BY mes) AS prev
        FROM agg)
    SELECT servico, mes, valor_medio,
           ROUND((valor_medio - prev) / NULLIF(prev, 0) * 100, 2) AS taxa_variacao,
           n
    FROM lagd WHERE prev IS NOT NULL
    """,
)
def q_pipeline_ods(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation_rows = sorted(
        table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name")
        .collect(),
        key=lambda r: r.n_nationkey,
    )

    # unique temp dir per invocation (no shared-path race between
    # concurrent runs, no repo-tree accretion); removed after the eager
    # readout below
    base = Path(tempfile.mkdtemp(prefix=f"e2e_ods_{Path(sf_dir).name}_"))
    for svc, sheet in _SHEET_OF.items():
        write_minimal_ods(
            str(base / f"{svc.lower()}_2017.ods"),
            {sheet: _ods_grid(nation_rows, _OFF[svc])},
        )

    long = read_ods_long(spark, str(base) + "/*.ods")
    rec = transform_long(long)
    monthly = (
        rec.select(
            "servico", F.date_format("ano_mes", "yyyy-MM").alias("mes"), "valor"
        )
        .groupBy("servico", "mes")
        .agg(
            avg_exact(F.col("valor"), scale=6).alias("valor_medio"),
            F.count("*").alias("n"),
        )
    )
    w = Window.partitionBy("servico").orderBy("mes")
    out = (
        monthly.withColumn("prev", F.lag("valor_medio").over(w))
        .filter(F.col("prev").isNotNull())
        .select(
            "servico",
            "mes",
            "valor_medio",
            F.round(
                (F.col("valor_medio") - F.col("prev"))
                / F.nullif(F.col("prev"), F.lit(0.0))
                * 100,
                2,
            ).alias("taxa_variacao"),
            "n",
        )
    )
    # eager readout (handful of service×month rows) so the temp .ods files
    # can be deleted before returning
    rows = out.collect()
    shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


@register(
    "pipeline_ingest_binaryfile",
    """
    WITH months(mes, mul, frac) AS (
        VALUES ('2017-01', 1, 0.5), ('2017-02', 2, 0.0), ('2017-03', 3, 0.25)),
    svc(servico, off) AS (VALUES ('SMP', 5), ('STFC', 45)),
    vals AS (
        SELECT s.servico, m.mes,
               CAST((n.n_nationkey + s.off) * m.mul + m.frac AS DOUBLE) AS valor
        FROM nation n, months m, svc s
        WHERE NOT (m.mes = '2017-03' AND n.n_nationkey % 7 = 0))
    SELECT servico, mes,
           CAST(SUM(CAST(valor AS DECIMAL(38,6))) AS DOUBLE) / COUNT(valor)
             AS valor_medio,
           COUNT(*) AS n
    FROM vals GROUP BY servico, mes
    """,
)
def q_pipeline_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op03 in its DISTRIBUTED-fetch form (upgrades the driver-side
    stub): op01 catalog → op02 relational resource filter (decoy
    resources — wrong year, wrong format — are filtered OUT; their URLs
    intentionally do not exist, so a filtering bug would fail the fetch,
    not silently pass) → ``fetch_ods_long`` (sources/ods.py): the
    manifest hash-partitions on url and each executor task fetches its
    own resources with urllib over ``file://`` fixtures and parses the
    bytes in the SAME Arrow stage — matching the at-scale posture
    SURVEY §2.1 prescribes for /root/reference/etl/etl_ida.py:714-730,
    where the reference downloads each ODS into one process's memory.
    Downstream is the shared transform chain, read out as per-service
    monthly averages (all three months — no LAG, distinct from
    ``pipeline_ingest_ods``'s month-over-month readout)."""
    from ..sources.manifest import Resource, filter_resources, manifest_df
    from ..sources.ods import fetch_ods_long

    nation_rows = sorted(
        table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name")
        .collect(),
        key=lambda r: r.n_nationkey,
    )
    base = Path(tempfile.mkdtemp(prefix=f"e2e_bf_{Path(sf_dir).name}_"))
    offs = {"SMP": 5, "STFC": 45}
    for svc, sheet in _SHEET_OF.items():
        write_minimal_ods(
            str(base / f"{svc.lower()}_2017.ods"),
            {sheet: _ods_grid(nation_rows, offs[svc], invalid=(2, 7))},
        )
    resources = [
        Resource(
            titulo=f"IDA 2017 - {svc}",
            url=(base / f"{svc.lower()}_2017.ods").as_uri(),
            formato="ods",
        )
        for svc in _SHEET_OF
    ] + [
        # decoys op02 must drop — the files do not exist
        Resource("IDA 2016 - SMP", (base / "smp_2016.ods").as_uri(), "ods"),
        Resource("Dicionário de dados", (base / "dict.pdf").as_uri(), "pdf"),
    ]
    man = filter_resources(
        manifest_df(spark, resources), services=("SMP", "STFC"), years=(2017,)
    )
    long = fetch_ods_long(man, allow_file=True)  # fixture files we wrote
    rec = transform_long(long)
    out = (
        rec.select(
            "servico", F.date_format("ano_mes", "yyyy-MM").alias("mes"), "valor"
        )
        .groupBy("servico", "mes")
        .agg(
            avg_exact(F.col("valor"), scale=6).alias("valor_medio"),
            F.count("*").alias("n"),
        )
    )
    rows = out.collect()
    shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)
