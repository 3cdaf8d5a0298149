"""End-to-end ingest pipeline under the oracle gate (the reference's whole
product, ``ETLPipeline.run`` /root/reference/etl/etl_ida.py:732-834, as ONE
registered query).

Stages wired together — each already unit-tested, here composed end-to-end:
1. catalog manifest + resource filter (op01/op02, sources/manifest.py)
2. "conversion" — a deterministic wide sheet per selected resource built
   from `nation` (stands in for the driver-side ODS→DataFrame step; same
   merged-cell nulls / comma decimals / '-' invalid cells the reference
   sheets have)
3. plans/etl.ingest: ffill → recode → unpivot → parse → hash → dims →
   fact with surrogate keys hashed inline from the natural keys
4. plans/etl.write_star: dims + year-partitioned fact to parquet
5. idempotent RE-RUN: ingest the same sheets again against the fact read
   back from disk — the anti-join must add zero rows (the reference's
   ``ON CONFLICT (hash_registro) DO NOTHING``, etl_ida.py:534)
6. flagship-style readout: month-over-month pct-change of the mean value
   per service over the star AS WRITTEN (taxa_variacao stages 1-2)

The DuckDB oracle reproduces the numeric chain from `nation` (values are
constructed decimal-exact: .5/.0/.25 fractions) and asserts
``rerun_stable`` TRUE — so catalog filtering, the transform chain, the
round-trip through parquet, key resolution AND idempotency are all inside
the driver's hash check.
"""

from __future__ import annotations

import shutil
import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.aggs import avg_exact
from ..plans.etl import ingest, write_star
from ..registry import register
from ..sources.manifest import Resource, filter_resources, manifest_df
from ..sources.tables import table

_SVC_OFFSET = {"SMP": 0, "STFC": 40}


def _wide_sheet(nation: DataFrame, servico: str, off: int) -> DataFrame:
    """Deterministic wide sheet for one resource: nation rows play sheet
    rows; every 3rd row carries the group name (ffill territory); month
    values are locale-formatted comma decimals with '-' invalid cells."""
    k = F.col("n_nationkey")
    return nation.select(
        k.cast("int").alias("linha_origem"),
        F.when(k % 3 == 0, F.col("n_name")).alias("GRUPO_ECONOMICO"),
        F.lit("Taxa de Respondidas em 5 dias Úteis").alias("VARIAVEL"),
        F.lit(servico).alias("SERVICO"),
        F.lit(f"{servico}_2017.ods").alias("ARQUIVO_ORIGEM"),
        F.concat((k + off).cast("string"), F.lit(",5")).alias("2017-01"),
        F.when(k % 5 == 0, F.lit("-"))
        .otherwise(F.concat(((k + off) * 2).cast("string"), F.lit(",0")))
        .alias("2017-02"),
        F.concat(((k + off) * 3).cast("string"), F.lit(",25")).alias("2017-03"),
    )


@register(
    "pipeline_ingest_ida",
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
           n, TRUE AS rerun_stable
    FROM lagd WHERE prev IS NOT NULL
    """,
)
def q_pipeline_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = table(spark, sf_dir, "nation")

    # op01/op02: catalog manifest (with decoys) → filtered resources.
    # The loop over selected resources is control-plane, exactly the
    # reference's per-resource fetch loop (etl_ida.py:732-834).
    resources = [
        Resource("IDA SMP 2017 - Dados brutos", "http://x/smp_2017.ods", "ods"),
        Resource("IDA STFC 2017 - Dados brutos", "http://x/stfc_2017.ods", "ods"),
        Resource("IDA SMP 2025 - fora do range", "http://x/smp_2025.ods", "ods"),
        Resource("IDA STFC 2017 - relatorio", "http://x/r.pdf", "pdf"),
    ]
    chosen = filter_resources(
        manifest_df(spark, resources), services=("SMP", "STFC"), years=(2017,)
    )
    selected = sorted(r.servico for r in chosen.select("servico").collect())
    sheets = [_wide_sheet(nation, s, _SVC_OFFSET[s]) for s in selected]
    wide = sheets[0]
    for s in sheets[1:]:
        wide = wide.unionByName(s)

    # first run: ingest + persist the star.  Unique temp dir PER INVOCATION
    # — concurrent runs at the same sf must not race on a shared path, and
    # the repo tree must not accrete output dirs; cleaned up after the
    # eager readout below.
    base = tempfile.mkdtemp(prefix=f"e2e_ingest_{Path(sf_dir).name}_")
    # materialize_records: the five write_star jobs each re-derived the
    # records subtree (ffill window + Expand + parse) from the source
    star = ingest(spark, wide, materialize_records=True)
    write_star(star, base)

    # second run against the fact READ BACK from disk: the hash anti-join
    # must produce zero new rows (ON CONFLICT DO NOTHING, etl_ida.py:534)
    fact1 = spark.read.parquet(f"{base}/fact_ida")
    rerun = ingest(spark, wide, existing_fact=fact1)
    stable = rerun["fact_ida"].agg((F.count("*") == 0).alias("rerun_stable"))

    # flagship-style readout over the star as written
    tempo = spark.read.parquet(f"{base}/dim_tempo")
    servico = spark.read.parquet(f"{base}/dim_servico")
    monthly = (
        fact1.join(F.broadcast(tempo.select("tempo_key", "ano_mes")), "tempo_key")
        .join(
            F.broadcast(
                servico.select("servico_key", F.col("servico_codigo").alias("servico"))
            ),
            "servico_key",
        )
        .select(
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
        .crossJoin(F.broadcast(stable))
    )
    # Materialize the readout (a handful of service×month rows — control
    # plane, not data plane) so the temp star can be deleted before
    # returning; the caller gets a local-relation DataFrame that no longer
    # depends on the temp files.
    rows = out.collect()
    shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)
