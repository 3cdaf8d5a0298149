"""Closed-loop benchmark of the ida-spark engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload mart --seed 1 --seconds 15 --trace 0

One client issues the workload's queries one after another (closed loop),
each materialized through Spark's ``noop`` sink on ``local[nproc]``.  A
run generates (or reuses) its seeded inputs, sets up (SparkSession, then
one cold execution of every query, which pays the one-time layouts and
whose collected output is checked against the query's oracle), then
times whole passes for ``--seconds`` in a seed-permuted query order.

The last stdout line is the result: ``{"correct", "attempted", "failed",
"metrics"}``.  ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
reports the per-layer metrics of a separate traced run and writes its
spans next to the run's detail file under ``.bench_out/``.  See
``perfbench/README.md`` for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import random
import shutil
import statistics
import sys
import tempfile
import time
from collections import defaultdict
from contextlib import nullcontext

ROOT = os.getcwd()
PKG = "ida_dataengineerproject_spark"

# name -> inputs and the queries one pass runs (production paths where the
# repository defines one; "etl_load" is the benchmark's own plans.etl step)
WORKLOADS = {
    "mart": {
        "star": {"sf": 0.02, "n_docs": 200, "n_vecs": 200},
        "queries": [
            "flagship_taxa_variacao",
            "flagship_taxa_variacao_sql",
            "tpch_q1_pricing_summary",
            "tpch_q9_product_profit",
            "xq7_gini_revenue",
            "exact_median_percentiles",
        ],
    },
    "pipeline": {
        "star": {"sf": 0.003, "n_docs": 400, "n_vecs": 600},
        "sheets": {"n_files": 4, "rows": 1000, "n_months": 12},
        "queries": [
            "etl_load",
            "pipeline_prepare_documents",
            "x31_ppjoin_pairs",
            "x03b_cosine_topk_lsh",
        ],
    },
}

# production paths with no oracle of their own: their registered forms
# carry the exact arm the oracle checks, so the production output is
# checked for schema and row count against the registered form instead
SKETCH_PRODUCTION = {"x03b_cosine_topk_lsh"}

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


# --------------------------------------------------------------------------
# environment


def host_env(work: str) -> dict:
    """Pin the host shape before the JVM starts: local[nproc], a driver
    heap sized to the host, and every scratch path inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    driver_mem = f"{max(1, min(4, int(mem_gb // 6)))}g"
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=driver_mem,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        # no hsperfdata file under /tmp from the launcher or the driver JVM
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=(
            f'--driver-java-options "-XX:-UsePerfData -Djava.io.tmpdir={tmp} '
            f'-Dderby.system.home={work}" '
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            "pyspark-shell"
        ),
    )
    # Python workers unpickle package (and tracing) functions by module
    # path: the checkout root must be on their path too
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT] + [p for p in paths if p != ROOT])
    tempfile.tempdir = None
    return {
        "nproc": cpus,
        "mem_gb": round(mem_gb, 1),
        "driver_memory": driver_mem,
        "loadavg_1m": os.getloadavg()[0],
        "python": platform.python_version(),
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    worker daemon) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 -- last resort, never leave it running
            proc.kill()
            proc.wait()


# --------------------------------------------------------------------------
# workload items


class Query:
    """One registered query, built by its production path when it has one."""

    def __init__(self, name: str, fn, data_dir: str):
        self.name, self.fn, self.data_dir = name, fn, data_dir

    def build(self, spark):
        return self.fn(spark, self.data_dir)


class EtlLoad:
    """Step (a) of the ``etl`` workload through the public ``plans.etl``
    API: ingest the wide sheets (records materialized once), write the
    star, then re-ingest against the fact read back from disk."""

    name = "etl_load"

    def __init__(self, sheets_dir: str, out_root: str):
        self.sheets_dir, self.out_root = sheets_dir, out_root
        self.history: list[dict] = []

    def _schema(self):
        from pyspark.sql.types import LongType, StringType, StructField, StructType

        first = sorted(f for f in os.listdir(self.sheets_dir) if f.endswith(".csv"))[0]
        with open(os.path.join(self.sheets_dir, first), encoding="utf-8") as fh:
            header = [h.strip('"') for h in fh.readline().rstrip("\n").split(",")]
        return StructType(
            [StructField(h, LongType() if h == "linha_origem" else StringType()) for h in header]
        )

    def run(self, spark, rec=None) -> None:
        from ida_dataengineerproject_spark.plans import etl

        span = rec.span if rec is not None and rec.on else (lambda *a, **k: nullcontext())
        out = os.path.join(self.out_root, f"star{len(self.history) % 2}")
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.perf_counter()
        with span("etl.ingest", "plans"):
            wide = spark.read.csv(self.sheets_dir, header=True, schema=self._schema())
            star = etl.ingest(spark, wide, materialize_records=True)
        t1 = time.perf_counter()
        with span("etl.write_star", "plans"):
            etl.write_star(star, out)
        t2 = time.perf_counter()
        with span("etl.reingest", "plans"):
            fact = spark.read.parquet(os.path.join(out, "fact_ida"))
            added = etl.ingest(spark, wide, existing_fact=fact)["fact_ida"].count()
        t3 = time.perf_counter()
        self.history.append(
            {
                "out": out,
                "ingest_s": t1 - t0,
                "write_star_s": t2 - t1,
                "reingest_s": t3 - t2,
                "wall_s": t3 - t0,
                "reingest_added": added,
                "traced": rec is not None and rec.on,
            }
        )


def make_items(wl: dict, inputs: dict, work: str) -> list:
    import __spark_entry__ as entry
    from ida_dataengineerproject_spark.queries.production import production_overrides

    qs = {**entry.queries(), **production_overrides()}
    return [
        EtlLoad(inputs["sheets"], os.path.join(work, "etl_out"))
        if name == "etl_load"
        else Query(name, qs[name], inputs["star"])
        for name in wl["queries"]
    ]


# --------------------------------------------------------------------------
# inputs


def make_inputs(wl: dict, seed: int) -> tuple[dict, float, int]:
    """Generate or reuse the run's inputs; returns (dirs, gen seconds, bytes)."""
    from perfbench import gen

    root = os.path.join(ROOT, ".bench_data")
    star = wl["star"]
    dirs, gen_s = {}, 0.0
    key = f"star-s{seed}-sf{star['sf']}-d{star['n_docs']}-v{star['n_vecs']}"
    dirs["star"], s = gen.cached(
        root, key, lambda d: gen.write_tables(gen.star_tables(seed, **star), d)
    )
    gen_s += s
    if "sheets" in wl:
        sh = wl["sheets"]
        key = f"sheets-s{seed}-f{sh['n_files']}-r{sh['rows']}-m{sh['n_months']}"
        dirs["sheets"], s = gen.cached(root, key, lambda d: gen.write_sheets(seed, d, **sh))
        gen_s += s
    return dirs, gen_s, sum(gen.dir_bytes(d) for d in dirs.values())


# --------------------------------------------------------------------------
# execution


class Runner:
    """Runs the workload's items on one session at a time and keeps the
    execution counts the result line reports."""

    def __init__(self, items: list, rec=None):
        self.items, self.rec = items, rec
        self.spark = None
        self.jvm_pid = 0
        self.attempted = self.failed = 0
        self.errors: dict[str, str] = {}  # items that raised
        self.wrong: dict[str, str] = {}  # items whose output failed its check

    def setup(self, check) -> dict:
        """Start the session, then execute every item once, cold: the first
        execution pays the per-session layouts (bucketed copies), codegen
        and file-footer reads.  Each output is collected and handed to
        ``check`` (returns None or why it is wrong), which is not timed."""
        from ida_dataengineerproject_spark.session import get_spark
        from perfbench.tracing import jvm_pid

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        out = {"start_s": time.perf_counter() - t0, "warm_s": 0.0, "bucketed_write_s": 0.0}
        self.jvm_pid = jvm_pid(self.spark)
        for item in self.items:
            self.spark.catalog.clearCache()
            self.attempted += 1
            n0 = len(self.rec.spans) if self.rec else 0
            if self.rec:
                self.rec.on = True
            t0 = time.perf_counter()
            try:
                got = item.run(self.spark) if isinstance(item, EtlLoad) else (
                    item.build(self.spark).toPandas())
            except Exception as exc:  # noqa: BLE001 -- one failing query must not end the run
                self._fail(item, exc)
                continue
            finally:
                out["warm_s"] += time.perf_counter() - t0
                if self.rec:
                    self.rec.on = False
                    out["bucketed_write_s"] += sum(
                        s["end"] - s["start"] for s in self.rec.spans[n0:]
                        if s["name"] == "bucketed.ensure_bucketed")
            why = check(item, got)
            if why:
                self.failed += 1
                self.wrong[item.name] = why
                log(f"[WRONG] {item.name}: {why}")
        return out

    def _fail(self, item, exc: Exception) -> None:
        self.failed += 1
        self.errors.setdefault(item.name, f"{type(exc).__name__}: {str(exc)[:500]}")
        log(f"[FAIL] {item.name}: {type(exc).__name__}: {str(exc).splitlines()[0][:200]}")

    def run_item(self, item, traced: bool = False) -> dict | None:
        """Execute one item; returns its wall time and job count (plus the
        layer counters when traced), or None when it failed."""
        from perfbench import tracing as tr

        spark = self.spark
        rec = self.rec if traced else None
        spark.catalog.clearCache()
        j0 = tr.next_job_id(spark)
        if rec:
            cpu0 = self._cpu()
            rec.on = True
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with rec.query(item.name) if rec else nullcontext() as root:
                extra = self._execute(item, rec)
        except Exception as exc:  # noqa: BLE001 -- one failing query must not end the run
            self._fail(item, exc)
            return None
        finally:
            wall = time.perf_counter() - t0
            if rec:
                rec.on = False
        out = {"wall": wall, "jobs": tr.next_job_id(spark) - j0}
        if rec:
            cpu1 = self._cpu()
            jobs, stats = tr.read_jobs(spark, j0, j0 + out["jobs"])
            tr.attach_jobs(rec, root, jobs)
            out.update(stats, **extra, span=root["id"])
            for key, a, b in zip(("py_cpu_s", "jvm_cpu_s", "pyworker_cpu_s"), cpu0, cpu1):
                out[key] = b - a
        return out

    def _execute(self, item, rec) -> dict:
        from perfbench.tracing import catalyst_phases

        if isinstance(item, EtlLoad):
            item.run(self.spark, rec)
            return {}
        span = rec.span if rec else (lambda *a: nullcontext())
        extra = {}
        with span("build", "queries"):
            df = item.build(self.spark)
        if rec:
            with span("replan", "catalyst"):
                extra["catalyst"] = catalyst_phases(df)
        with span("execute", "driver"):
            df.write.format("noop").mode("overwrite").save()
        return extra

    def _cpu(self) -> tuple[float, float, float]:
        from perfbench.tracing import descendants_cpu_s, process_cpu_s

        return (time.process_time(), process_cpu_s(self.jvm_pid),
                descendants_cpu_s(self.jvm_pid))

    def passes(self, seconds: float, rng: random.Random, trace: bool):
        """At least two whole passes, each in a seed-permuted order, until
        ``seconds`` would be exceeded by one more (median-length) pass.
        With ``trace`` every second pass is traced, so untraced and traced
        passes see the same JVM warm-up drift.  Returns one (wall, results)
        list of the untraced passes and one of the traced passes."""
        runs: dict[bool, tuple[list, list]] = {False: ([], []), True: ([], [])}
        walls: list[float] = []
        deadline = time.perf_counter() + seconds
        while len(walls) < 2 or time.perf_counter() + median(walls) <= deadline:
            traced = trace and len(walls) % 2 == 1
            order = list(self.items)
            rng.shuffle(order)
            t0 = time.perf_counter()
            res = {}
            for item in order:
                r = self.run_item(item, traced)
                if r is not None:
                    res[item.name] = r
            walls.append(time.perf_counter() - t0)
            runs[traced][0].append(walls[-1])
            runs[traced][1].append(res)
        return runs[False], runs[True]


# --------------------------------------------------------------------------
# verification


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "None"
    if isinstance(v, float) and v == 0.0:
        return "0.0"  # DuckDB's ROUND keeps the sign of a tiny negative, Spark's not
    return str(v)


def normalize(pdf):
    """Sorted column names and order-insensitive stringified rows -- the
    comparison the repository's parity gate uses, with -0.0 equal to 0.0."""
    cols = sorted(pdf.columns)
    rows = [tuple(_cell(v) for v in row)
            for row in pdf[cols].itertuples(index=False, name=None)]
    return cols, sorted(rows)


def duck_for(star_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{star_dir}/{t}.parquet')")
    return con


def oracle_result(con, name: str, sql: str, data_dir: str):
    """The DuckDB oracle's answer, cached beside the inputs it was computed
    from (some oracles are quadratic self-joins)."""
    import hashlib

    import pandas as pd

    digest = hashlib.md5(sql.encode()).hexdigest()[:8]
    path = os.path.join(f"{data_dir}-oracle", f"{name}-{digest}.pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    df = con.execute(sql).fetchdf()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    df.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return df


def verify_query(spark, item: Query, got, con, registered: dict, oracles: dict) -> str | None:
    """None when ``got`` (the item's collected output) is right, else why."""
    if item.name in SKETCH_PRODUCTION:
        # the registered form checks the recall contract against its
        # oracle; the production path must return k neighbours per query
        ref = registered[item.name](spark, item.data_dir).toPandas()
        why = compare(ref, oracle_result(con, item.name, oracles[item.name], item.data_dir))
        if why:
            return f"registered form: {why}"
        if sorted(set(got["query_id"])) != sorted(ref["query_id"]) or len(got) != ref["k"].sum():
            return f"production rows {len(got)} != sum(k) {ref['k'].sum()} of the registered form"
        return None
    return compare(got, oracle_result(con, item.name, oracles[item.name], item.data_dir))


def compare(got, want) -> str | None:
    (gc, gv), (wc, wv) = normalize(got), normalize(want)
    if gc != wc:
        return f"schema {gc} != {wc}"
    if len(gv) != len(wv):
        return f"rows {len(gv)} != {len(wv)}"
    if gv != wv:
        bad = next(i for i, (a, b) in enumerate(zip(gv, wv)) if a != b)
        return f"values differ, first at sorted row {bad}: {gv[bad]} != {wv[bad]}"
    return None


STAR_TABLES = ("fact_ida", "dim_tempo", "dim_grupo_economico", "dim_servico", "dim_variavel")


def etl_expected(sheets_dir: str) -> dict:
    """What step (a) must load, counted by DuckDB straight from the CSV
    sheets: groups forward-filled per file, months unpivoted, invalid
    cells dropped, labels recoded, records distinct."""
    import duckdb

    from ida_dataengineerproject_spark.operators.cleaning import (
        GROUP_MAPPING,
        VARIABLE_MAPPING,
    )

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for tbl, mapping in (("gmap", GROUP_MAPPING), ("vmap", VARIABLE_MAPPING)):
        con.execute(f"CREATE TABLE {tbl}(raw VARCHAR, code VARCHAR)")
        con.executemany(f"INSERT INTO {tbl} VALUES (?, ?)", list(mapping.items()))
    con.execute(
        f"""
        CREATE VIEW recs AS
        WITH raw AS (
            SELECT * FROM read_csv('{sheets_dir}/*.csv', header = true, all_varchar = true)),
        ff AS (
            SELECT * EXCLUDE (GRUPO_ECONOMICO),
                   last_value(GRUPO_ECONOMICO IGNORE NULLS) OVER (
                       PARTITION BY ARQUIVO_ORIGEM ORDER BY CAST(linha_origem AS BIGINT)
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
            FROM raw),
        long AS (
            UNPIVOT ff ON COLUMNS('^[0-9]{{4}}-[0-9]{{2}}$') INTO NAME mes VALUE v)
        SELECT mes, coalesce(g.code, grp) AS grupo, trim(SERVICO) AS servico,
               coalesce(m.code, VARIAVEL) AS variavel,
               CAST(replace(trim(v), ',', '.') AS DOUBLE) AS valor
        FROM long LEFT JOIN gmap g ON g.raw = grp LEFT JOIN vmap m ON m.raw = VARIAVEL
        WHERE grp IS NOT NULL AND trim(v) NOT IN ('-', '', 'nan', 'NaN')
        """
    )
    row = con.execute(
        """SELECT (SELECT count(*) FROM (SELECT DISTINCT * FROM recs)),
                  count(DISTINCT mes), count(DISTINCT grupo),
                  count(DISTINCT servico), count(DISTINCT variavel)
           FROM recs"""
    ).fetchone()
    con.close()
    return dict(zip(STAR_TABLES, row))


def etl_loaded(out_dir: str) -> dict:
    import pyarrow.dataset as ds

    return {
        name: ds.dataset(os.path.join(out_dir, name), format="parquet",
                         partitioning="hive").count_rows()
        for name in STAR_TABLES
    }


def make_check(runner: Runner, inputs: dict):
    """The output check of the set-up pass: DuckDB oracles for registered
    queries, the recall contract plus row counts for sketch production
    paths, load invariants for the ``etl`` step."""
    import __spark_entry__ as entry

    registered, oracles = entry.queries(), entry.oracle_sql()
    con = duck_for(inputs["star"])

    def check(item, got) -> str | None:
        try:
            if isinstance(item, EtlLoad):
                last = item.history[-1]
                want, loaded = etl_expected(inputs["sheets"]), etl_loaded(last["out"])
                if loaded != want:
                    return f"loaded {loaded} != expected {want}"
                if last["reingest_added"]:
                    return f"re-ingest added {last['reingest_added']} rows"
                return None
            return verify_query(runner.spark, item, got, con, registered, oracles)
        except Exception as exc:  # noqa: BLE001 -- a crash in the check is a wrong output
            return f"{type(exc).__name__}: {str(exc).splitlines()[0][:200]}"

    return check, con


# --------------------------------------------------------------------------
# metrics


def per_query(results: list[dict]) -> dict[str, dict]:
    names = sorted({n for r in results for n in r})
    return {
        n: {
            "median_s": median([r[n]["wall"] for r in results if n in r]),
            "samples": sum(n in r for r in results),
            "jobs": [r[n]["jobs"] for r in results if n in r],
        }
        for n in names
    }


def end_to_end(setup, walls, queries, runner) -> dict:
    meds = [q["median_s"] for q in queries.values()]
    return {
        "setup_s": (setup["start_s"] + setup["warm_s"], "s"),
        "pass_s": (median(walls), "s"),
        "query_geomean_s": (math.exp(statistics.fmean(math.log(v) for v in meds)), "s"),
        "query_max_s": (max(meds), "s"),
        "ok_share": (1.0 - runner.failed / max(1, runner.attempted), "ratio"),
    }


# per-query status-store / process counters summed into per-pass totals
COUNTERS = {
    "spark.jobs": ("jobs", "count"),
    "spark.stages": ("stages", "count"),
    "spark.tasks": ("tasks", "count"),
    "spark.failed_tasks": ("failed_tasks", "count"),
    "spark.executor_run_s": ("executor_run_s", "s"),
    "spark.executor_cpu_s": ("executor_cpu_s", "s"),
    "spark.gc_s": ("gc_s", "s"),
    "shuffle.write_bytes": ("shuffle_write_bytes", "bytes"),
    "shuffle.read_bytes": ("shuffle_read_bytes", "bytes"),
    "shuffle.spill_disk_bytes": ("spill_disk_bytes", "bytes"),
    "shuffle.spill_mem_bytes": ("spill_mem_bytes", "bytes"),
    "pyworker.cpu_s": ("pyworker_cpu_s", "s"),
    "driver.py_cpu_s": ("py_cpu_s", "s"),
}
# per_layer metric -> unit, in BENCHMARK.json order
LAYER_UNITS = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "sources.bucketed_write_s": "s",
    "sources.input_bytes": "bytes",
    "inputs.gen_s": "s",
    "plans.ingest_s": "s",
    "plans.write_star_s": "s",
    "plans.reingest_s": "s",
    "plans.output_bytes": "bytes",
    "plans.load_rows_per_s": "1/s",
    "plans.stored_bytes_ratio": "ratio",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.py4j_calls": "count",
    "operators.calls": "count",
    "operators.build_s": "s",
    "operators.eager_jobs": "count",
    "checkpoint.count": "count",
    "checkpoint.s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    **{k: u for k, (_, u) in COUNTERS.items()},
    "spark.core_busy_ratio": "ratio",
    "driver.jvm_cpu_s": "s",
    "driver.jvm_peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}


def pass_layers(rec, res: dict) -> tuple[dict, dict]:
    """Layer totals of one traced pass, and each query's self-time split."""
    from perfbench.tracing import self_times, subtree

    acc: dict[str, float] = defaultdict(float)
    split = {}
    for name, r in res.items():
        for metric, (key, _) in COUNTERS.items():
            acc[metric] += r.get(key, 0.0)
        acc["driver.jvm_cpu_s"] += max(0.0, r["jvm_cpu_s"] - r.get("executor_cpu_s", 0.0))
        for phase, secs in r.get("catalyst", {}).items():
            acc[f"catalyst.{phase}_s"] += secs
        spans = subtree(rec, rec.spans[r["span"]])
        byid = {s["id"]: s for s in spans}

        def outer(layer):  # spans of ``layer`` not nested in another of it
            out = []
            for s in spans:
                p = byid.get(s["parent"])
                while p is not None and p["layer"] != layer:
                    p = byid.get(p["parent"])
                if s["layer"] == layer and p is None:
                    out.append(s)
            return out

        def jobs_under(holders):
            ids, n = {h["id"] for h in holders}, 0
            for s in spans:
                p = s if s["layer"] == "spark" else None
                while p is not None and p["id"] not in ids:
                    p = byid.get(p["parent"])
                n += p is not None
            return n

        dur = lambda ss: sum(s["end"] - s["start"] for s in ss)  # noqa: E731
        builds, ops = outer("queries"), outer("operators")
        cps = [s for s in spans if s["layer"] == "checkpoint"]
        acc["queries.build_s"] += dur(builds)
        acc["queries.build_jobs"] += jobs_under(builds)
        acc["queries.py4j_calls"] += sum(s["py4j"] for s in builds)
        acc["operators.calls"] += sum(s["layer"] == "operators" for s in spans)
        acc["operators.build_s"] += dur(ops)
        acc["operators.eager_jobs"] += jobs_under(ops)
        acc["checkpoint.count"] += len(cps)
        acc["checkpoint.s"] += dur(cps)
        st = self_times(spans)
        split[name] = {"wall_s": dur(spans[:1]), "self_s": st, "self_sum_s": sum(st.values())}
    return acc, split


def layer_metrics(rec, runner, setup, u_walls, t_walls, t_res, etl, input_bytes, gen_s):
    from perfbench.tracing import peak_rss_mb

    per_pass = [pass_layers(rec, res) for res in t_res]
    m = {k: median([p[0].get(k, 0.0) for p in per_pass]) for k in LAYER_UNITS}
    pass_s = median(t_walls)
    m["spark.core_busy_ratio"] = m["spark.executor_run_s"] / (
        pass_s * int(os.environ["SPARK_GRAFT_CPUS"]))
    m["session.start_s"] = setup["start_s"]
    m["session.warm_s"] = setup["warm_s"]
    m["sources.bucketed_write_s"] = setup["bucketed_write_s"]
    m["sources.input_bytes"] = float(input_bytes)
    m["inputs.gen_s"] = gen_s
    steps = [h for h in etl.history if h["traced"]] if etl else []
    for k in ("ingest_s", "write_star_s", "reingest_s"):
        m[f"plans.{k}"] = median([h[k] for h in steps]) if steps else 0.0
    m["plans.output_bytes"] = m["plans.load_rows_per_s"] = m["plans.stored_bytes_ratio"] = 0.0
    if steps:
        from perfbench.gen import dir_bytes

        last = steps[-1]
        out_bytes = dir_bytes(last["out"])
        m["plans.output_bytes"] = float(out_bytes)
        m["plans.load_rows_per_s"] = etl_loaded(last["out"])["fact_ida"] / median(
            [h["wall_s"] for h in steps])
        m["plans.stored_bytes_ratio"] = out_bytes / dir_bytes(etl.sheets_dir)
    m["driver.jvm_peak_rss_mb"] = peak_rss_mb(runner.jvm_pid)
    m["trace.overhead_s"] = pass_s - median(u_walls)
    return m, [p[1] for p in per_pass]


# --------------------------------------------------------------------------
# main


def run_info(spark) -> dict:
    import pyspark

    from ida_dataengineerproject_spark.session import _RUNTIME_CONFS

    conf = dict(spark.sparkContext.getConf().getAll())
    for k in list(_RUNTIME_CONFS) + ["spark.sql.shuffle.partitions"]:
        conf[k] = spark.conf.get(k, None)
    return {
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "confs": {k: v for k, v in sorted(conf.items()) if not k.endswith(".id")},
    }


def bench(args, wl: dict, work: str, host: dict) -> dict:
    inputs, gen_s, input_bytes = make_inputs(wl, args.seed)
    log(f"inputs ready, generated in {gen_s:.2f} s (cached across runs): {inputs}")
    rec = None
    if args.trace:
        from perfbench import tracing

        rec = tracing.Recorder()
        tracing.install_wrappers(rec)
    runner = Runner(make_items(wl, inputs, work), rec)
    check, con = make_check(runner, inputs)
    try:
        setup = runner.setup(check)
        info = run_info(runner.spark)
        rng = random.Random(args.seed)
        (u_walls, u_res), (t_walls, t_res) = runner.passes(args.seconds, rng, args.trace)
        queries = per_query(u_res + t_res)
        # AQE may cancel or add stages with timing, so this is reported, not failed
        unstable = {n: q["jobs"] for n, q in queries.items() if len(set(q["jobs"])) > 1}
        for n, jobs in unstable.items():
            log(f"[UNSTABLE] {n}: job counts per timed pass {jobs}")
        etl = next((i for i in runner.items if isinstance(i, EtlLoad)), None)
        if args.trace:
            metrics, split = layer_metrics(rec, runner, setup, u_walls, t_walls, t_res, etl,
                                           input_bytes, gen_s)
            metrics = {k: (metrics[k], u) for k, u in LAYER_UNITS.items()}
        else:
            metrics = end_to_end(setup, u_walls, queries, runner)
        detail = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "host": {**host, **info}, "inputs": inputs,
            "gen_s": gen_s, "setup": setup, "pass_walls_s": u_walls,
            "traced_pass_walls_s": t_walls, "queries": queries, "errors": runner.errors,
            "wrong": runner.wrong, "unstable_job_counts": unstable,
            "metrics": {k: v for k, (v, _) in metrics.items()},
        }
        if args.trace:
            detail["self_times"] = split
        out_dir = os.path.join(ROOT, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        stem = os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}")
        with open(stem + ".json", "w") as fh:
            json.dump(detail, fh, indent=1, default=str)
        if args.trace:
            with open(stem + "-spans.json", "w") as fh:
                json.dump(rec.spans, fh)
        for n, q in queries.items():
            log(f"  {n:40s} {q['median_s']:8.3f} s  (n={q['samples']}, jobs={q['jobs'][0]})")
        for k, (v, u) in metrics.items():
            log(f"  {k:32s} {v:14.4f} {u}")
        log(f"  passes: {len(u_walls)} untraced, {len(t_walls)} traced; detail: {stem}.json")
        return {
            "correct": not (runner.errors or runner.wrong),
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        con.close()
        if runner.spark is not None:
            stop_spark(runner.spark)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, PKG, "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        log(f"perfbench: {ROOT} holds no {PKG} package; run from a checkout's root")
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        host = host_env(work)
        result = bench(args, WORKLOADS[args.workload], work, host)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path[0] = ROOT  # import perfbench.* and the package from the checkout
    sys.exit(main())
