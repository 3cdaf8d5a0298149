"""End-to-end ETL ingest pipeline — the reference's ETLPipeline.run()
(/root/reference/etl/etl_ida.py:732-834) as one lazy DataFrame plan.

Reference stages → Spark stages:
- ODSExtractor.extract (op04/05/09/10/15, etl_ida.py:215-274): two input
  shapes, each with an explicit ``linha_origem`` row index (the file order
  the pandas ffill silently depends on — SURVEY.md §7.4.1).
  - ODS files (``sources/ods``): parsed per sheet into ``LONG_SCHEMA``
    rows; op15 runs there, in pandas, per sheet
    (``converters.normalize_wide``), where the sheet is known.
    ``transform_long`` takes those rows.
  - Wide DataFrames (CSV/parquet sheets) carry no sheet boundary finer
    than the file: ``transform_wide`` runs op15 as a Spark window per
    ``ARQUIVO_ORIGEM``, then unpivots (op16) once.
- DataTransformer.transform (op11/12/16/18-22/25, etl_ida.py:277-429):
  both entry points share one tail — blank-row filter + recode/clean
  (``_labelled``), then invalid-cell filter → locale parse → hash
  (``_records``).  All built-in expressions; the wide form adds one
  Window and one Expand node, no shuffle.
- ensure dims (op36/38, etl_ida.py:556-620): distinct natural keys +
  anti-join upsert; surrogate keys are xxhash64 of the natural key
  (deterministic & distributed — identity sequences are not).
- PostgreSQLLoader.load (op30/37/06, etl_ida.py:461-554): hash dedup,
  dim-key resolution, partitioned fact write.  The reference resolves
  keys with inner joins against the dims; here every dim is the
  distinct natural keys of the same records and every surrogate key is
  a hash of its natural key, so the fact computes its keys — and its
  partition column ``ano`` = ``year(ano_mes)`` — inline and drops the
  rows an inner join could never match (a NULL natural key — the
  silent drop of etl_ida.py:550-551).  The fact plan derives the record
  stream once, and ``write_star`` writes it as built: it reads no dim.

Scale notes: the only shuffles are the dim distincts (tiny) and the fact
dedup (hash-partitioned).  The wide ffill window partitions by source
file.  Fact writes partition by (ano) so time-range queries prune files.
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
from ..operators.reshape import forward_fill, month_columns, month_start, unpivot_months
from ..operators.upsert import dedup_against
from ..session import materialize, run_concurrently


def _labelled(df: DataFrame, *values) -> DataFrame:
    """Blank-row filter (op11), then the recoded/cleaned labels (op18-20)
    beside the ``values`` columns."""
    df = drop_blank_rows(df, "GRUPO_ECONOMICO", "VARIAVEL")  # op11
    return df.select(
        recode("GRUPO_ECONOMICO", GROUP_MAPPING).alias("grupo_economico"),  # op19
        clean_text("SERVICO").alias("servico"),  # op18
        recode("VARIAVEL", VARIABLE_MAPPING).alias("variavel"),  # op20
        F.col("ARQUIVO_ORIGEM").alias("arquivo_origem"),
        F.col("linha_origem").cast("int"),
        *values,
    )


def _records(long: DataFrame) -> DataFrame:
    """One labelled cell per row (``ano_mes`` date, ``valor_raw``) → the
    reference's DataRecord stream (etl_ida.py:103-122)."""
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


def transform_wide(wide: DataFrame) -> DataFrame:
    """Wide sheet → normalized fact records.  Expects columns
    GRUPO_ECONOMICO, VARIAVEL, SERVICO, ARQUIVO_ORIGEM, linha_origem +
    YYYY-MM month columns."""
    df = forward_fill(
        wide, "GRUPO_ECONOMICO", order_col="linha_origem",
        partition_cols=["ARQUIVO_ORIGEM"],
    )  # op15: merged-cell group names repeat down the sheet
    # recode/clean once per sheet row, before the unpivot multiplies it
    # into one row per month cell
    df = _labelled(df, *month_columns(df))
    long = unpivot_months(
        df,
        id_cols=["grupo_economico", "servico", "variavel", "arquivo_origem", "linha_origem"],
    )  # op16 + op22
    return _records(long)


def transform_long(long: DataFrame) -> DataFrame:
    """``sources/ods.LONG_SCHEMA`` rows → normalized fact records.  The
    rows arrive forward-filled (op15) and unpivoted (op16) per sheet."""
    return _records(
        _labelled(long, month_start("ano_mes").alias("ano_mes"), "valor_raw")  # op22
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
    reference's inner joins drop it (etl_ida.py:550-551).  The last
    column, ``ano``, is the partition column ``write_star`` writes by, so
    the built fact has the columns of the fact read back from disk."""
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
            F.year("ano_mes").alias("ano"),
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
    """Persist the star schema: dims plain, fact partitioned by its ``ano``
    column (partition pruning for time-range queries — the Spark
    equivalent of the reference's fact indexes, schema_star.sql:96-101).

    The five table writes are independent jobs, so they run from a
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
            df.write.mode("overwrite").partitionBy("ano").parquet(f"{base_dir}/{name}")
        else:
            # dims are small by construction (distinct natural keys):
            # one output file each instead of shuffle.partitions files
            df.coalesce(1).write.mode("overwrite").parquet(f"{base_dir}/{name}")

    run_concurrently(
        spark, [partial(write_one, name, df) for name, df in star.items()]
    )
