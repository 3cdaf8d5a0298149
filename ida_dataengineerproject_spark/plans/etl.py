"""End-to-end ETL ingest pipeline — the reference's ETLPipeline.run()
(/root/reference/etl/etl_ida.py:732-834) as one lazy DataFrame plan.

Reference stages → Spark stages:
- ODSExtractor.extract (op04/05/09/10/15, etl_ida.py:215-274):  here the
  input is already a wide DataFrame with an explicit ``linha_origem`` row
  index (the file-order the pandas ffill silently depends on — SURVEY.md
  §7.4.1) — conversion from ODS happens driver-side, out of the engine.
- DataTransformer.transform (op11/12/16/18-22/25, etl_ida.py:277-429):
  ffill → blank-row filter → recode/clean per sheet row → unpivot →
  invalid-cell filter → locale parse → hash.  All built-in expressions;
  one Window and one Expand node, no shuffle.
- ensure dims (op36/38, etl_ida.py:556-620): distinct natural keys +
  anti-join upsert; surrogate keys are xxhash64 of the natural key
  (deterministic & distributed — identity sequences are not).
- PostgreSQLLoader.load (op30/37/06, etl_ida.py:461-554): hash dedup,
  dim-key resolution, partitioned fact write.  The reference resolves
  keys with inner joins against the dims; here every dim is the
  distinct natural keys of the same records and every surrogate key is
  a hash of its natural key, so the fact computes its keys inline and
  drops the rows an inner join could never match (a NULL natural key —
  the silent drop of etl_ida.py:550-551).  The fact plan derives the
  record stream once.

Scale notes: the only shuffles are the dim distincts (tiny) and the fact
dedup (hash-partitioned).  The ffill window partitions by source file.
Fact writes partition by (ano) so time-range queries prune files.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.calendar import calendar_columns
from ..functions.hashing import record_hash
from ..functions.numparse import parse_locale_number
from ..operators.cleaning import (
    GROUP_MAPPING,
    VARIABLE_MAPPING,
    clean_text,
    drop_blank_rows,
    drop_invalid_values,
    recode,
)
from ..operators.reshape import forward_fill, month_columns, unpivot_months
from ..operators.upsert import dedup_against
from ..session import materialize, run_concurrently


def transform_wide(wide: DataFrame) -> DataFrame:
    """Wide sheet → normalized fact records (the reference's DataRecord
    stream, etl_ida.py:103-122).  Expects columns GRUPO_ECONOMICO, VARIAVEL,
    SERVICO, ARQUIVO_ORIGEM, linha_origem + YYYY-MM month columns."""
    df = forward_fill(
        wide, "GRUPO_ECONOMICO", order_col="linha_origem",
        partition_cols=["ARQUIVO_ORIGEM"],
    )  # op15: merged-cell group names repeat down the sheet
    df = drop_blank_rows(df, "GRUPO_ECONOMICO", "VARIAVEL")  # op11
    # recode/clean once per sheet row, before the unpivot multiplies it
    # into one row per month cell
    df = df.select(
        recode("GRUPO_ECONOMICO", GROUP_MAPPING).alias("grupo_economico"),  # op19
        clean_text("SERVICO").alias("servico"),  # op18
        recode("VARIAVEL", VARIABLE_MAPPING).alias("variavel"),  # op20
        F.col("ARQUIVO_ORIGEM").alias("arquivo_origem"),
        F.col("linha_origem").cast("int"),
        *month_columns(df),
    )
    long = unpivot_months(
        df,
        id_cols=["grupo_economico", "servico", "variavel", "arquivo_origem", "linha_origem"],
    )  # op16 + op22
    long = drop_invalid_values(long, "valor_raw")  # op12
    rec = long.select(
        "ano_mes",
        "grupo_economico",
        "servico",
        "variavel",
        parse_locale_number("valor_raw").alias("valor"),  # op21
        "arquivo_origem",
        "linha_origem",
    ).filter(F.col("valor").isNotNull())  # parse failure == skip (op12)
    return rec.withColumn(
        "hash_registro",
        record_hash(  # op25, etl_ida.py:124-131
            F.date_format("ano_mes", "yyyy-MM-dd"),
            "grupo_economico",
            "servico",
            "variavel",
            F.col("valor").cast("string"),
        ),
    )


def _skey(*cols) -> F.Column:
    """Deterministic surrogate key: xxhash64 of the natural key."""
    return F.xxhash64(*cols)


def build_dims(records: DataFrame) -> dict[str, DataFrame]:
    """Dimension ensure (op36/op38, etl_ida.py:556-620): distinct natural
    keys → dim rows with hash surrogate keys + calendar attributes."""
    tempo = (
        records.select("ano_mes").distinct()
        .transform(lambda d: calendar_columns(d, "ano_mes"))
        .select(
            _skey("ano_mes").alias("tempo_key"),
            "ano_mes", "ano", "mes", "mes_nome", "trimestre", "semestre",
        )
    )
    grupo = records.select(
        F.col("grupo_economico").alias("grupo_codigo")
    ).distinct().select(
        _skey("grupo_codigo").alias("grupo_key"),
        "grupo_codigo",
        F.col("grupo_codigo").alias("grupo_nome"),
        F.lower("grupo_codigo").alias("grupo_normalizado"),
        F.lit(True).alias("ativo"),
    )
    servico = records.select(F.col("servico").alias("servico_codigo")).distinct().select(
        _skey("servico_codigo").alias("servico_key"),
        "servico_codigo",
        F.col("servico_codigo").alias("servico_nome"),
        F.lit(None).cast("string").alias("servico_descricao"),
        F.lit(True).alias("ativo"),
    )
    variavel = records.select(F.col("variavel").alias("variavel_codigo")).distinct().select(
        _skey("variavel_codigo").alias("variavel_key"),
        "variavel_codigo",
        F.col("variavel_codigo").alias("variavel_nome"),
        F.lit(None).cast("string").alias("variavel_descricao"),
        F.lit(None).cast("string").alias("unidade_medida"),
        F.lit(None).cast("int").alias("peso_ida"),
        F.lit(None).cast("decimal(10,3)").alias("meta_anatel"),
        (F.col("variavel_codigo") == "TAXA_RESP_5DIAS").alias("is_principal"),
        F.lit(True).alias("ativo"),
    )
    return {
        "dim_tempo": tempo,
        "dim_grupo_economico": grupo,
        "dim_servico": servico,
        "dim_variavel": variavel,
    }


def load_fact(
    records: DataFrame,
    existing_fact: DataFrame | None = None,
) -> DataFrame:
    """Dedup + dim-key resolution (op30/op37, etl_ida.py:502-554).

    Hash dedup reproduces ON CONFLICT DO NOTHING, anti-joined against
    the existing fact for idempotent re-runs.  The surrogate keys are
    the hashes ``build_dims`` gives the same natural keys, so no dim
    join is needed.  A row with a NULL natural key is dropped, as the
    reference's inner joins drop it (etl_ida.py:550-551)."""
    deduped = dedup_against(records, existing_fact, ["hash_registro"])
    return (
        deduped.filter(
            F.col("ano_mes").isNotNull()
            & F.col("grupo_economico").isNotNull()
            & F.col("servico").isNotNull()
            & F.col("variavel").isNotNull()
        )
        .select(
            F.xxhash64("hash_registro").alias("fato_key"),
            _skey("ano_mes").alias("tempo_key"),
            _skey("grupo_economico").alias("grupo_key"),
            _skey("servico").alias("servico_key"),
            _skey("variavel").alias("variavel_key"),
            F.col("valor").cast("decimal(15,6)").alias("valor"),
            "arquivo_origem",
            "linha_origem",
            F.current_timestamp().alias("data_processamento"),
            "hash_registro",
        )
    )


def ingest(
    spark: SparkSession,
    wide: DataFrame,
    existing_fact: DataFrame | None = None,
    materialize_records: bool = False,
) -> dict[str, DataFrame]:
    """Full pipeline: wide sheet(s) → {dims..., fact_ida} lazy DataFrames.
    Mirrors ETLPipeline.run (etl_ida.py:732-834) minus the HTTP fetch.
    Each output derives the normalized records once: the four dims by
    ``distinct``, the fact by dedup with its keys computed inline.

    ``materialize_records=True`` (r13, opt-in so the default contract
    stays fully lazy) materializes the normalized record stream before
    fanning out: the records subtree (ffill window + unpivot
    Expand + parse/recode) feeds FIVE independent consumers — four dim
    distincts and the fact dedup — and with ``write_star`` each of the
    five write jobs would re-derive it from the source.  Records are
    O(sheet cells), so the checkpoint is bounded at any corpus scale.
    Callers that consume only one output (the re-ingest count, xq41's
    audit rebuild) keep the lazy default."""
    records = transform_wide(wide)
    if materialize_records:
        records = materialize(records)
    dims = build_dims(records)
    fact = load_fact(records, existing_fact)
    return {**dims, "fact_ida": fact}


def write_star(star: dict[str, DataFrame], base_dir: str) -> None:
    """Persist the star schema: dims plain, fact partitioned by year via the
    tempo dim (partition pruning for time-range queries — the Spark
    equivalent of the reference's fact indexes, schema_star.sql:96-101).

    The five table writes are independent jobs (the fact write reuses
    the LAZY tempo dim frame, never the dim files), so they run from a
    small thread pool (``session.run_concurrently``; guide §2.6 —
    overlap independent jobs): wall is the slowest write, not the sum of
    five job round-trips.  On a cluster the later jobs back-fill
    executors freed by the earlier jobs' tails.  Each pool target
    inherits the caller's local properties (job group, description) and
    tags, so the writes stay attributed to the caller.

    Concurrency caveats (ADVICE r12): the FIRST failure is raised only
    after every in-flight write finishes — a failed fact write can
    leave sibling tables already (re)written; callers treating the star
    dir as transactional should commit through a log entry
    (sources/commit.py ``versioned_commit``, as sources/wap.py does).  And
    because SQLConf is session-scoped, a concurrent ``scoped_conf``
    mutation on this session from another thread (e.g. graph.py's AQE
    scope) would leak into these writes — don't run write_star
    concurrently with scoped-conf operators on the same session."""
    spark = star["fact_ida"].sparkSession

    def write_one(name: str, df: DataFrame) -> None:
        if name == "fact_ida":
            with_ano = df.join(
                F.broadcast(star["dim_tempo"].select("tempo_key", "ano")), "tempo_key"
            )
            with_ano.write.mode("overwrite").partitionBy("ano").parquet(
                f"{base_dir}/{name}"
            )
        else:
            # dims are small by construction (distinct natural keys):
            # one output file each instead of shuffle.partitions files
            df.coalesce(1).write.mode("overwrite").parquet(f"{base_dir}/{name}")

    run_concurrently(
        spark, [partial(write_one, name, df) for name, df in star.items()]
    )
