"""The three benchmark workloads and the pass/operation timing they share.

Every workload is closed-loop with one client: one process, one
``local[nproc]`` session, one operation at a time. An *operation* is one
timed unit: a registry spec (``spec.fn`` then a noop write), a shared
memo build, or one ETL pipeline step. A *pass* runs a workload's
operations once each.
"""

from __future__ import annotations

import os
import random
import re
import statistics
import sys
import time
from dataclasses import dataclass, field

import numpy as np

import gen
from tracing import OPERATOR_MODULES, StatusReader, Tracer, union_s

#: Registry specs of ``short_mix``: each has oracle SQL, builds no session
#: memo, and runs in well under 1.5 s warm. The reference's relational
#: surface, TPC-H, window and statistics specs.
SHORT_MIX = (
    "flagship_school_analysis", "pivot_wide", "separate_unpivot",
    "comma_strip_cast", "title_and_directions", "join_m1_validated_diffkeys",
    "join_left_multikey", "sort_nulls_first", "groupby_multisum",
    "window_rank_family", "window_lag_lead", "tpch_q3_shipping_priority",
    "tpch_q6_forecast_revenue", "tpch_q9_product_profit",
    "tpch_q13_customer_distribution", "correlation_matrix",
)

#: Registry specs of ``graph_heavy``, after its two shared memo builds:
#: the k-truss fixpoint loop, the slope-one self-join and the perceptual-hash
#: Arrow kernel.
GRAPH_HEAVY = (
    "ktruss_copurchase_profile", "slope_one_rating_eval", "phash_image_neardup",
)

SF = {"short_mix": 0.01, "graph_heavy": 0.001}
#: generator seed of the star schema; ``--seed`` orders the operations
TABLE_SEED = 42
PRECINCT_ROWS = 20_000


@dataclass
class OpResult:
    name: str
    layer: str  # "spec", "memo" or "pipelines"
    wall_s: float
    build_s: float
    t0: float  # epoch seconds, for job-span arithmetic
    t_build: float
    counts: dict = field(default_factory=dict)
    ok: bool = True


@dataclass
class Run:
    """State shared by a workload run: session, tracer, timings, failures."""

    workload: str
    seed: int
    seconds: int
    trace: bool
    run_dir: str
    cpus: int
    t_start: float
    spark: object = None
    tracer: Tracer = field(default_factory=lambda: Tracer(run_id=""))
    layers: dict = field(default_factory=dict)
    errors: list = field(default_factory=list)
    attempted: int = 0
    staged_rows: int = 0
    staged_bytes: int = 0

    def fail(self, what: str) -> None:
        self.errors.append(what)

    def note(self, what: str) -> None:
        print(f"# {time.perf_counter() - self.t_start:7.2f}s {what}", file=sys.stderr, flush=True)

    def session(self):
        from mcas_question2_etl_spark.session import get_spark

        t = time.perf_counter()
        tmp = os.path.join(self.run_dir, "tmp")
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            extra_conf={
                # a fixed heap size: peak memory then does not depend on
                # when the collector decided to grow the heap
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                    f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}"
                ),
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.layers.setdefault("session.start_s", time.perf_counter() - t)
        self.note("session started")
        return self.spark

    def op(self, reader: StatusReader, name: str, layer: str, build, execute=None) -> OpResult:
        """Time one operation: ``build()`` returns a DataFrame (or None) and
        ``execute(df)`` runs it; both inside the timed window."""
        reader.begin(f"{self.workload}:{name}:{self.attempted}")
        self.attempted += 1
        ok = True
        t0, w0 = time.perf_counter(), time.time()
        with self.tracer.span(f"op.{name}"):
            try:
                df = build()
                t1, w1 = time.perf_counter(), time.time()
                if execute is not None:
                    execute(df)
            except Exception as e:  # keep going; the failure is reported
                ok = False
                t1, w1 = time.perf_counter(), time.time()
                self.fail(f"{name}: {type(e).__name__}: {str(e)[:200]}")
        wall = time.perf_counter() - t0
        return OpResult(name, layer, wall, t1 - t0, w0, w1, reader.end(), ok)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def ordered(names, seed: int) -> list[str]:
    out = list(names)
    random.Random(seed).shuffle(out)
    return out


# ---------------------------------------------------------------------------
# verification
# ---------------------------------------------------------------------------


def verify_specs(run: Run, names, sf_dir: str) -> None:
    """Each spec against its registry oracle via tests/oracle.compare."""
    from mcas_question2_etl_spark.plans.suite import SPECS
    from tests.oracle import compare, duck_connection

    specs = {s.name: s for s in SPECS}
    con = duck_connection(sf_dir)
    for name in names:
        run.attempted += 1
        try:
            problems = compare(specs[name].fn(run.spark, sf_dir), con, specs[name].oracle)
        except Exception as e:
            problems = [f"{type(e).__name__}: {str(e)[:200]}"]
        if problems:
            run.fail(f"{name}: {problems[0][:300]}")
    con.close()
    run.note("specs verified")


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


def _stage_star(run: Run, name: str) -> str:
    sf_dir = os.path.join(run.run_dir, "data", f"sf{SF[name]}")
    rows = gen.star_schema(sf_dir, SF[name], TABLE_SEED)
    run.staged_rows = sum(rows.values())
    run.staged_bytes = tree_bytes(sf_dir)
    run.note("tables staged")
    return sf_dir


def _warm_catalog(run: Run, sf_dir: str) -> None:
    from mcas_question2_etl_spark.catalog import TABLES, load_table

    t = time.perf_counter()
    for name in TABLES:
        load_table(run.spark, sf_dir, name).count()
    run.layers["catalog.warm_scan_s"] = time.perf_counter() - t
    run.note("catalog scanned")


def _spec_pass(run: Run, reader: StatusReader, names, sf_dir: str, memos=False) -> list[OpResult]:
    from mcas_question2_etl_spark.plans import data_pipeline, graph_specs
    from mcas_question2_etl_spark.plans.suite import SPECS

    specs = {s.name: s for s in SPECS}
    ops = []
    if memos:
        for name, fn in (
            ("copurchase_edges", graph_specs.copurchase_edges),
            ("neardup_components", data_pipeline._neardup_components),
        ):
            ops.append(run.op(reader, name, "memo", lambda fn=fn: fn(run.spark, sf_dir),
                              lambda df: df.count()))
    for name in names:
        ops.append(run.op(reader, name, "spec", lambda s=specs[name]: s.fn(run.spark, sf_dir), noop))
    return ops


# Each workload sets up (session, inputs, warm pass and checks) and returns
# ``(run_pass, fresh)``: ``run_pass(reader)`` times one pass, and ``fresh``,
# when not None, gives every timed pass a new session.


def short_mix(run: Run):
    run.session()
    sf_dir = _stage_star(run, "short_mix")
    _warm_catalog(run, sf_dir)
    verify_specs(run, SHORT_MIX, sf_dir)  # also the untimed warm pass
    names = ordered(SHORT_MIX, run.seed)
    return lambda reader: _spec_pass(run, reader, names, sf_dir), None


def graph_heavy(run: Run):
    run.session()
    sf_dir = _stage_star(run, "graph_heavy")
    # no catalog scan: the memo builds below read the big tables first
    _spec_pass(run, StatusReader(run.spark, detail=False), (), sf_dir, memos=True)
    verify_specs(run, GRAPH_HEAVY, sf_dir)  # also the untimed warm pass
    names = ordered(GRAPH_HEAVY, run.seed)

    def fresh():
        # each timed pass starts in a new session so both memos are cold
        run.spark.stop()
        return run.session()

    return lambda reader: _spec_pass(run, reader, names, sf_dir, memos=True), fresh


def etl_load(run: Run):
    run.session()
    staged = gen.etl_inputs(os.path.join(run.run_dir, "data", "etl"), run.seed, PRECINCT_ROWS)
    run.staged_rows, run.staged_bytes = staged["rows"], staged["bytes"]
    out = os.path.join(run.run_dir, "data", "etl_out")
    run.note("inputs staged")

    def run_pass(reader):
        return _etl_pass(run, reader, staged["paths"], out)

    run_pass(StatusReader(run.spark, detail=False))  # untimed warm pass
    run.note("warm pass done")
    verify_etl(run, out, staged["county_rows"])
    run.note("outputs verified")
    return run_pass, None


_ELECTION_SCHEMA = (
    "county string, town string, response_yes string, response_no string, "
    "response_blank string, response_total string"
)
_MCAS_SCHEMA = "`District Code` long, Subject string, `M+E #` string, `PM #` string, `NM #` string"
_GRAD_SCHEMA = "`District Name` string, `District Code` long, Year long, `% Graduated` string"


def _etl_pass(run: Run, reader: StatusReader, paths: dict, out: str) -> list[OpResult]:
    from mcas_question2_etl_spark.pipelines import (
        dashboard, district_gis, election_results, school_outcomes,
    )
    from mcas_question2_etl_spark.sources import io

    spark = run.spark

    def election(path):
        def build():
            raw = io.read_csv(spark, path, _ELECTION_SCHEMA)
            election_results.load_election_results(
                election_results.transform_election_results(raw), f"{out}/election_result"
            )
        return build

    def school():
        mcas = io.read_csv(spark, paths["mcas"], _MCAS_SCHEMA)
        grad = io.read_csv(spark, paths["grad"], _GRAD_SCHEMA)
        io.write_parquet_overwrite(
            school_outcomes.transform_district_data(mcas, grad), f"{out}/school_district"
        )

    def gis():
        geo = district_gis.from_shapefile(spark, paths["shp"]).cache()
        with run.tracer.span("sources.shapefile"):
            geo.count()  # one parse feeds both branches
        io.write_parquet_overwrite(district_gis.build_crosswalk(geo), f"{out}/district_town_lookup")
        io.write_parquet_overwrite(district_gis.build_shapes(geo), f"{out}/district_shapes")
        geo.unpersist()

    def views():
        for name in ("school_district", "district_town_lookup", "election_result"):
            spark.read.parquet(f"{out}/{name}").createOrReplaceTempView(name)
        return dashboard.school_analysis(spark)

    return [
        run.op(reader, "election_load", "pipelines", election(paths["election"])),
        run.op(reader, "election_replace", "pipelines", election(paths["election_replace"])),
        run.op(reader, "school_outcomes", "pipelines", school),
        run.op(reader, "district_gis", "pipelines", gis),
        run.op(reader, "school_analysis", "pipelines", views, lambda df: df.collect()),
        run.op(reader, "dashboard", "pipelines",
               lambda: dashboard.shapefile_frame(spark, spark.read.parquet(f"{out}/district_shapes")),
               lambda df: df.collect()),
    ]


def _duck_flagship() -> str:
    from mcas_question2_etl_spark.pipelines.dashboard import FLAGSHIP_SQL

    def repl(m):
        inner = f"list({m.group(2)})"
        if m.group(1) == "set":
            inner = f"list_distinct({inner})"
        return f"array_to_string(list_sort({inner}), ', ')"

    return re.sub(r"concat_ws\(', ', array_sort\(collect_(set|list)\(([\w.]+)\)\)\)", repl, FLAGSHIP_SQL)


def verify_etl(run: Run, out: str, county_rows: dict) -> None:
    """Per-county row counts after the replace, and the dashboard query
    against DuckDB running the same SQL over the same written tables."""
    import duckdb

    from mcas_question2_etl_spark.pipelines import dashboard
    from tests.oracle import canonical_rows

    con = duckdb.connect()
    con.execute(f"CREATE VIEW election_result AS SELECT * FROM read_parquet("
                f"'{out}/election_result/*/*.parquet', hive_partitioning=true)")
    con.execute(f"CREATE VIEW school_district AS SELECT * FROM read_parquet('{out}/school_district/*.parquet')")
    con.execute("CREATE VIEW district_town_lookup AS SELECT CAST(district_code AS BIGINT) AS district_code, "
                f"district_name, town FROM read_parquet('{out}/district_town_lookup/*.parquet')")
    run.attempted += 1
    got = dict(con.execute("SELECT county, count(*) FROM election_result GROUP BY 1").fetchall())
    if got != county_rows:
        run.fail(f"election_result rows per county {got} != staged {county_rows}")

    run.attempted += 1
    for name in ("school_district", "district_town_lookup", "election_result"):
        run.spark.read.parquet(f"{out}/{name}").createOrReplaceTempView(name)
    df = dashboard.school_analysis(run.spark).drop("prop_yes", "prop_pass_mcas_ela")
    spark_rows = canonical_rows([tuple(r) for r in df.collect()], df.columns)
    res = con.execute(_duck_flagship())
    duck_rows = canonical_rows(res.fetchall(), [d[0] for d in res.description])
    if not spark_rows or spark_rows != duck_rows:
        run.fail(f"school_analysis: {len(spark_rows)} spark rows vs {len(duck_rows)} duckdb rows differ")
    con.close()


WORKLOADS = {"short_mix": short_mix, "graph_heavy": graph_heavy, "etl_load": etl_load}


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def tree_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
        if os.path.isfile(os.path.join(d, f))
    )


def hd_quantile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: a Beta-weighted mean of
    all order statistics, so it does not jump between two neighbouring
    samples the way the plain sample quantile does on a dozen values."""
    xs = np.sort(np.asarray(values, dtype=float))
    n = len(xs)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    grid = (np.arange(20_000) + 0.5) / 20_000
    cdf = np.concatenate([[0.0], np.cumsum(grid ** (a - 1) * (1 - grid) ** (b - 1))])
    cdf /= cdf[-1]
    weights = np.diff(np.interp(np.arange(n + 1) / n, np.linspace(0, 1, len(cdf)), cdf))
    return float(weights @ xs)


def tail_quantile(n: int, tail: int = 10) -> float:
    """The highest percentile up to p90 with ``tail`` samples beyond it."""
    return max(0.5, min(0.9, 1 - tail / n))


def end_to_end(run: Run, passes: list[tuple[float, list[OpResult]]], timed_s: float,
               setup_s: float, rss_mb: float) -> dict:
    walls = [o.wall_s for _, ops in passes for o in ops]
    pass_s = statistics.median(p for p, _ in passes)
    done = sum(o.ok for _, ops in passes for o in ops)
    return {
        "setup_s": (setup_s, "s"),
        "query_p50_s": (hd_quantile(walls, 0.5), "s"),
        "query_p90_s": (hd_quantile(walls, tail_quantile(len(walls))), "s"),
        "queries_per_s": (done / timed_s, "1/s"),
        "pass_s": (pass_s, "s"),
        "etl_rows_per_s": (run.staged_rows / pass_s, "rows/s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def per_layer(run: Run, ops: list[OpResult], traced_pass_s: float, untraced_pass_s: float,
              deltas: list[int], residue: int) -> dict:
    tr = run.tracer
    c = lambda key: sum(o.counts.get(key, 0) for o in ops)  # noqa: E731
    wall = sum(o.wall_s for o in ops)
    covered = sum(
        union_s(o.counts.get("job_spans", []), o.t0, o.t0 + o.wall_s) for o in ops
    )
    build_jobs = sum(
        sum(1 for s, _ in o.counts.get("job_spans", []) if s <= o.t_build) for o in ops
    )
    memo = {o.name: o for o in ops if o.layer == "memo"}
    nd = memo.get("neardup_components")
    etl = [o for o in ops if o.layer == "pipelines"]
    by_name = {o.name: o.wall_s for o in ops}
    m = {
        "session.start_s": (run.layers.get("session.start_s", 0.0), "s"),
        "session.tmp_residue_bytes": (residue, "bytes"),
        "catalog.warm_scan_s": (run.layers.get("catalog.warm_scan_s", 0.0), "s"),
        "plans.build_s": (sum(o.build_s for o in ops if o.layer != "pipelines"), "s"),
        "plans.build_jobs": (build_jobs, "count"),
        "plans.exec_s": (sum(o.wall_s - o.build_s for o in ops if o.layer != "pipelines"), "s"),
        "plans.memo.copurchase_edges_s": (by_name.get("copurchase_edges", 0.0), "s"),
        "plans.memo.neardup_components_s": (by_name.get("neardup_components", 0.0), "s"),
        "plans.memo.neardup_components_jobs": (nd.counts["jobs"] if nd else 0, "count"),
        "plans.memo.neardup_components_cpu_s": (nd.counts["cpu_s"] if nd else 0.0, "s"),
        "plans.memo.neardup_components_shuffle_bytes": (
            nd.counts["shuffle_read"] + nd.counts["shuffle_write"] if nd else 0, "bytes"),
        "plans.temp_bytes_written": (
            sum(o.counts.get("bytes_written", 0) for o in ops if o.layer != "pipelines"), "bytes"),
        "driver.jobs": (c("jobs"), "count"),
        "driver.stages": (c("stages"), "count"),
        "driver.tasks": (c("tasks"), "count"),
        "driver.jobs_per_query": (statistics.median(o.counts["jobs"] for o in ops), "count"),
        "driver.share": (1.0 - covered / wall if wall else 0.0, "ratio"),
        "driver.eager_actions": (tr.eager_actions, "count"),
        "executor.run_s": (c("run_s"), "s"),
        "executor.cpu_s": (c("cpu_s"), "s"),
        "executor.gc_s": (c("gc_s"), "s"),
        "executor.cpu_util": (c("cpu_s") / (wall * run.cpus) if wall else 0.0, "ratio"),
        "shuffle.read_bytes": (c("shuffle_read"), "bytes"),
        "shuffle.write_bytes": (c("shuffle_write"), "bytes"),
        "shuffle.spill_bytes": (c("spill"), "bytes"),
        "python.bytes_sent": (c("py_bytes_sent"), "bytes"),
        "python.rows_returned": (c("py_rows_returned"), "count"),
        "python.nodes": (c("py_nodes"), "count"),
    }
    modules = tr.by_prefix("operators.")
    for mod in OPERATOR_MODULES:
        st = modules.get(mod, {"calls": 0, "self_s": 0.0, "jobs": 0})
        m[f"operators.{mod}.calls"] = (st["calls"], "count")
        m[f"operators.{mod}.self_s"] = (st["self_s"], "s")
        m[f"operators.{mod}.jobs"] = (st["jobs"], "count")
    written = sum(o.counts.get("bytes_written", 0) for o in etl)
    m.update({
        "sources.read_s": (tr.total("sources.read."), "s"),
        "sources.write_s": (tr.total("sources.write."), "s"),
        "sources.files_written": (sum(o.counts.get("files_written", 0) for o in etl), "count"),
        "sources.bytes_written": (written, "bytes"),
        "sources.write_amp": (written / run.staged_bytes if etl and run.staged_bytes else 0.0, "ratio"),
        "sources.shapefile_s": (tr.total("sources.shapefile"), "s"),
        "pipelines.election_s": (by_name.get("election_load", 0.0) + by_name.get("election_replace", 0.0), "s"),
        "pipelines.school_outcomes_s": (by_name.get("school_outcomes", 0.0), "s"),
        "pipelines.district_gis_s": (by_name.get("district_gis", 0.0), "s"),
        "pipelines.dashboard_s": (by_name.get("dashboard", 0.0), "s"),
        "trace.pass_s": (traced_pass_s, "s"),
        "trace.overhead_s": (traced_pass_s - untraced_pass_s, "s"),
        "trace.job_count_delta": (deltas[0], "count"),
        "trace.stage_count_delta": (deltas[1], "count"),
    })
    return m
