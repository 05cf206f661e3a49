"""The workloads: inputs, staging, one cycle of operations, checks.

``run.py`` drives a workload as a closed loop with one client:
``generate`` (seeded, untimed) -> ``stage`` (part of set-up) -> whole
cycles of operations until the run's seconds are spent. ``cycle``
returns one cycle's operations in a seeded order. Every operation's
result is checked right after it, outside the timed region, against a
DuckDB oracle or the generator's ground truth.
"""

from __future__ import annotations

import os
import random
import shutil
from contextlib import nullcontext
from time import perf_counter

import duckdb

import gen

# Input sizes: (wide races, wide laps per driver, star races, customers).
# Measured on 4 cores (README.md, "Input sizes"): the full sf0.1 size
# (15k customers) made a dashboard_mix run 91 s against 71 s at 5k, and
# a warm run_etl took 12.8-15.5 s at 4,221 wide rows against 18.3 s at
# 210,105 rows (plus 11.5 s to generate them). Neither larger size fits
# a run's time budget. "tiny" is for the tests only.
SCALES = {
    "default": (20, 10, 200, 5000),
    "tiny": (4, 2, 10, 60),
}
N_DRIVERS = 20
KEYS = ["resultId"]
STAR_VIEWS = ("race", "driver", "team", "pit_stop")

ANALYTICS_FNS = [
    "driver_standings_recompute", "fastest_lap_ranking",
    "pitstop_aggregates", "season_team_rollup",
]
STAR_SQL = {
    "team_season_points": """
        SELECT YEAR(r.date) AS year, t.name_team,
               CAST(SUM(res.points) AS DOUBLE) AS points, COUNT(*) AS n_results
        FROM results res
        JOIN race r ON res.raceId = r.race_id
        JOIN team t ON res.constructorId = t.constructorId
        GROUP BY YEAR(r.date), t.name_team""",
    "driver_wins_top10": """
        SELECT d.surname,
               CAST(SUM(CASE WHEN res.position_order = 1 THEN 1 ELSE 0 END) AS BIGINT) AS wins,
               CAST(SUM(res.points) AS DOUBLE) AS points
        FROM results res JOIN driver d ON res.driverId = d.driverId
        GROUP BY d.surname
        ORDER BY points DESC, d.surname LIMIT 10""",
}
RELATIONAL_ENTRIES = [
    "pricing_summary", "sql_surface_q3",
    "events_hourly", "asof_join", "running_customer_total",
]
OPERATOR_ENTRIES = ["minhash_lsh_pairs", "ann_bruteforce"]
MERGE = "streaming.pipeline.merge_epoch_batch"

# DuckDB restatements of plans.analytics. Sums of INT are cast to BIGINT:
# DuckDB's HUGEINT would reach pandas as float64.
ANALYTICS_ORACLE = {
    "driver_standings_recompute": """
        WITH g AS (
          SELECT res.driverId, res.raceId, ra.date,
                 SUM(res.points) AS race_points,
                 SUM(CASE WHEN res.position_order = 1 THEN 1 ELSE 0 END) AS race_wins
          FROM results res JOIN race ra ON res.raceId = ra.race_id
          GROUP BY res.driverId, res.raceId, ra.date
        ), c AS (
          SELECT *, SUM(race_points) OVER w AS points_cum,
                    CAST(SUM(race_wins) OVER w AS BIGINT) AS wins_cum
          FROM g WINDOW w AS (PARTITION BY driverId ORDER BY date, raceId
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        )
        SELECT raceId, driverId, points_cum AS points_recomputed,
               wins_cum AS wins_recomputed,
               RANK() OVER (PARTITION BY raceId
                            ORDER BY points_cum DESC, wins_cum DESC, driverId)
                 AS position_recomputed
        FROM c""",
    "fastest_lap_ranking": """
        SELECT raceId, driverId, fastestLapTime,
               RANK() OVER (PARTITION BY raceId
                            ORDER BY fastestLapTime ASC NULLS LAST, driverId) AS fastest_rank
        FROM results WHERE fastestLapTime IS NOT NULL""",
    "pitstop_aggregates": """
        SELECT race_id, driver_id, COUNT(*) AS n_stops,
               ROUND(AVG(duration), 3) AS avg_duration, MIN(duration) AS min_duration
        FROM pit_stop GROUP BY race_id, driver_id""",
    "season_team_rollup": """
        SELECT YEAR(r.date) AS year, res.constructorId,
               SUM(res.points) AS total_points, COUNT(*) AS n_results
        FROM results res JOIN race r ON res.raceId = r.race_id
        GROUP BY ROLLUP (YEAR(r.date), res.constructorId)""",
}


class Op:
    """One operation: ``prepare`` (untimed) -> ``run`` (timed, returns a
    result) -> ``check(result)`` (untimed, True when correct)."""

    def __init__(self, name, run, check, prepare=None):
        self.name, self.run, self.check, self.prepare = name, run, check, prepare


def span(ctx, name):
    return ctx.tracer.span(name) if ctx.tracer else nullcontext()


def parquet_files(path: str) -> list[str]:
    return [
        os.path.join(root, n)
        for root, _, names in os.walk(path)
        for n in names
        if n.endswith(".parquet")
    ]


class Workload:
    name = ""
    why = ""
    warm = True  # False: measure from the first, cold, cycle

    def __init__(self, seed: int, gen_dir: str, scale: str = "default"):
        self.seed, self.scale, self.gen_dir = seed, scale, gen_dir
        self.rng = random.Random(seed)
        self.sizes: dict[str, int] = {}

    def generate(self) -> None:
        """Write the seeded inputs under ``gen_dir`` (not timed)."""

    def stage(self, ctx, stage_dir: str) -> None:
        """Lay the inputs out for the engine (part of set-up)."""

    def cycle(self, ctx) -> list[Op]:
        raise NotImplementedError

    def final_check(self, ctx) -> list[str]:
        return []


class EtlFullReload(Workload):
    """A nightly job runs ``run_etl`` once in a fresh JVM, so the
    measured operation is the cold first ``run_etl`` of the session."""

    name = "etl_full_reload"
    why = "nightly wide CSV to 15-table star reload via etl.run_etl in a fresh session: CSV parse, window dedups, cleaning, parquet sinks"
    warm = False

    def generate(self):
        races, laps, _, _ = SCALES[self.scale]
        frame = gen.wide_frame(self.seed, n_races=races, n_drivers=N_DRIVERS, laps_per=laps)
        self.csv = os.path.join(self.gen_dir, "wide.csv")
        self.sizes = {"wide_rows": len(frame), "wide_bytes": gen.write_wide_csv(frame, self.csv)}
        self.truth = gen.etl_truth(frame)

    def stage(self, ctx, stage_dir):
        self.input = os.path.join(stage_dir, "wide.csv")
        shutil.copyfile(self.csv, self.input)
        self.out = os.path.join(stage_dir, "star")

    def cycle(self, ctx):
        def run():
            return ctx.m.etl.run_etl(ctx.spark, self.input, self.out)

        return [Op("etl.run_etl", run, lambda counts: counts == self.truth)]


class DashboardMix(Workload):
    """Read queries over a star and the relational tables, operator-heavy
    catalog entries, and one incremental merge per cycle into the
    ``results`` table the star queries read."""

    name = "dashboard_mix"
    why = "analyst reads (plans.analytics, spark.sql, catalog entries, operators) with one results merge per cycle"

    def generate(self):
        _, _, races, customers = SCALES[self.scale]
        self.base_races = races
        star = gen.star_tables(self.seed, n_races=races, n_drivers=N_DRIVERS, future_races=2000)
        rel = gen.relational_tables(self.seed, n_customers=customers)
        self.star_src = os.path.join(self.gen_dir, "star")
        self.rel_src = os.path.join(self.gen_dir, "rel")
        b1 = gen.write_star(star, self.star_src)
        b2 = gen.write_relational(rel, self.rel_src)
        self.base = star["results"]
        self.sizes = {
            "results_rows": len(self.base),
            "lineitem_rows": len(rel["lineitem"]),
            "documents_rows": len(rel["documents"]),
            "input_bytes": sum(b1.values()) + sum(b2.values()),
        }

    def stage(self, ctx, stage_dir):
        """Copy the inputs, load ``results`` into a versioned snapshot
        store (epoch 0) and register the star and relational views."""
        spark, m = ctx.spark, ctx.m
        self.star_dir = os.path.join(stage_dir, "star")
        self.rel_dir = os.path.join(stage_dir, "rel")
        self.store = os.path.join(stage_dir, "results_store")
        self.batches = os.path.join(stage_dir, "batches")
        shutil.copytree(self.star_src, self.star_dir)
        shutil.copytree(self.rel_src, self.rel_dir)
        os.makedirs(self.batches)
        base = spark.read.parquet(os.path.join(self.star_dir, "results"))
        m.pipeline.merge_epoch_batch(base, 0, self.store, KEYS)
        m.sinks.read_snapshot(spark, self.store).createOrReplaceTempView("results")
        for t in STAR_VIEWS:
            spark.read.parquet(os.path.join(self.star_dir, t)).createOrReplaceTempView(t)
        m.readers.register_views(ctx.spark, self.rel_dir, force=True)
        self.epoch, self.current, self.write_amp = 0, self.base, []

    # -- oracles --------------------------------------------------------------
    def prepare_oracles(self, ctx) -> None:
        """Expected value hashes: relational and operator entries once,
        the star queries for the current ``results`` snapshot."""
        oh, cat = ctx.m.oracle_harness, ctx.m.catalog.CATALOG
        con = duckdb.connect()
        for t in gen.TESTDATA_SCHEMAS:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.rel_dir}/{t}.parquet')")
        self.expected = {}
        for e in RELATIONAL_ENTRIES:
            self.expected[f"plans.catalog.{e}"] = oh.value_hash(oh.duck_df(con, cat[e].oracle_scale or cat[e].oracle))
        for e in OPERATOR_ENTRIES:
            self.expected[f"operators.{e}"] = oh.value_hash(oh.duck_df(con, cat[e].oracle_scale or cat[e].oracle))
        con.close()
        self._star_oracles(ctx)

    def _star_oracles(self, ctx) -> None:
        oh = ctx.m.oracle_harness
        con = duckdb.connect()
        for t in STAR_VIEWS:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.star_dir}/{t}/*.parquet')")
        con.register("results", self.current)
        for fn, sql in ANALYTICS_ORACLE.items():
            self.expected[f"plans.analytics.{fn}"] = oh.value_hash(oh.duck_df(con, sql))
        for name, sql in STAR_SQL.items():
            self.expected[f"plans.sql.{name}"] = oh.value_hash(oh.duck_df(con, sql))
        con.close()

    # -- operations -------------------------------------------------------------
    def _builders(self, ctx) -> dict:
        spark, an, cat = ctx.spark, ctx.m.analytics, ctx.m.catalog.CATALOG
        t = spark.table
        q = {
            "plans.analytics.driver_standings_recompute": lambda: an.driver_standings_recompute(t("results"), t("race")),
            "plans.analytics.fastest_lap_ranking": lambda: an.fastest_lap_ranking(t("results")),
            "plans.analytics.pitstop_aggregates": lambda: an.pitstop_aggregates(t("pit_stop")),
            "plans.analytics.season_team_rollup": lambda: an.season_team_rollup(t("results"), t("race")),
        }
        for name, sql in STAR_SQL.items():
            q[f"plans.sql.{name}"] = lambda sql=sql: spark.sql(sql)
        for e in RELATIONAL_ENTRIES:
            q[f"plans.catalog.{e}"] = lambda e=e: cat[e].spark(spark, self.rel_dir)
        for e in OPERATOR_ENTRIES:
            q[f"operators.{e}"] = lambda e=e: cat[e].spark(spark, self.rel_dir)
        return q

    def cycle(self, ctx):
        """Every read query once and one merge, in a seeded order."""
        builders = self._builders(ctx)
        names = sorted(builders) + [MERGE]
        self.rng.shuffle(names)
        return [self._merge_op(ctx) if n == MERGE else self._query_op(ctx, n, builders[n]) for n in names]

    def _query_op(self, ctx, name, build):
        """Plan (build the DataFrame and its physical plan), then execute
        (collect to pandas); the check compares canonical value hashes."""

        def run():
            with span(ctx, name) as s:
                t0 = perf_counter()
                df = build()
                df._jdf.queryExecution().executedPlan()
                t1 = perf_counter()
                pdf = df.toPandas()
                if s is not None:
                    s.extra.update(plan_ms=(t1 - t0) * 1000, exec_ms=(perf_counter() - t1) * 1000)
            return ctx.m.oracle_harness.value_hash(pdf)

        return Op(name, run, lambda h: h == self.expected[name])

    def _merge_op(self, ctx):
        """One change batch -> ``merge_epoch_batch`` -> republish the
        ``results`` view -> read the standings of the new snapshot."""
        m, spark = ctx.m, ctx.spark
        state = {}

        def prepare():
            self.epoch += 1
            batch = gen.merge_batch(self.seed, self.epoch, self.current, self.base_races + self.epoch, N_DRIVERS)
            path = os.path.join(self.batches, f"b{self.epoch}.parquet")
            state.update(batch=batch, path=path, bytes=gen.write_table(batch, gen.STAR_SCHEMAS["results"], path))

        def run():
            with span(ctx, MERGE):
                applied = m.pipeline.merge_epoch_batch(spark.read.parquet(state["path"]), self.epoch, self.store, KEYS)
            with span(ctx, "streaming.readback"):
                m.sinks.read_snapshot(spark, self.store).createOrReplaceTempView("results")
                pdf = m.analytics.driver_standings_recompute(spark.table("results"), spark.table("race")).toPandas()
            return applied, m.oracle_harness.value_hash(pdf)

        def check(result):
            applied, readback = result
            self.current = gen.apply_batch(self.current, state["batch"])
            self._star_oracles(ctx)
            version = m.sinks.read_current_version(self.store)
            written = sum(map(os.path.getsize, parquet_files(os.path.join(self.store, version))))
            self.write_amp.append(written / state["bytes"])
            return (
                applied is True
                and m.sinks.read_current_epoch(self.store) == self.epoch
                and readback == self.expected["plans.analytics.driver_standings_recompute"]
            )

        return Op(MERGE, run, check, prepare=prepare)

    def final_check(self, ctx):
        """The snapshot store holds exactly the applied batches: unique
        keys, the expected row count and content."""
        oh, sinks = ctx.m.oracle_harness, ctx.m.sinks
        version_dir = os.path.join(self.store, sinks.read_current_version(self.store))
        con = duckdb.connect()
        snap = con.execute(f"SELECT * FROM read_parquet('{version_dir}/*.parquet')").df()
        con.close()
        errors = []
        if not snap["resultId"].is_unique:
            errors.append("results snapshot has duplicate resultId keys")
        if len(snap) != len(self.current):
            errors.append(f"results snapshot has {len(snap)} rows, expected {len(self.current)}")
        elif oh.value_hash(snap) != oh.value_hash(self.current[list(snap.columns)]):
            errors.append("results snapshot differs from the applied change batches")
        return errors


WORKLOADS = {w.name: w for w in (EtlFullReload, DashboardMix)}
