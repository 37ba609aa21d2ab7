"""The benchmark workloads.

Each workload drives the package only through its public functions.
``generate`` writes the inputs (perfbench/gen.py, never the package's own
generator); ``prepare`` builds the state the operations start from; ``op``
is one closed-loop operation, timed by the runner; ``after_op`` releases
what ``op`` cached and, in a traced run, counts extras outside the timed
region; ``check`` recomputes the expected outputs independently with
DuckDB and returns a list of mismatches.

Where a layer's result feeds another layer in the same operation, it is
materialized (``_materialize``: persist and count) inside the layer's
span: Spark is lazy, and without that barrier every layer's execution
would land in the span of the final write. Where a layer's result is
written, the write is the barrier.
"""

from __future__ import annotations

import math
import os
import random
import shutil

import duckdb
from pyspark.sql import functions as F

import gen

from hse_etl_ochirov_aldar_spark.functions.cleaning import month_of
from hse_etl_ochirov_aldar_spark.operators import daily_avg, percentile_trim, topk_extremes
from hse_etl_ochirov_aldar_spark.plans import quality
from hse_etl_ochirov_aldar_spark.plans.ivm import streaming_additive_mart
from hse_etl_ochirov_aldar_spark.plans.reference_pipelines import (
    mart_user_activity,
    replicate_sessions,
    sessions_clean,
)
from hse_etl_ochirov_aldar_spark.sources import sinks
from hse_etl_ochirov_aldar_spark.sources.readers import load_table


def _materialize(df):
    df = df.persist()
    df.count()
    return df


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _rows_differ(con, got_sql: str, want_sql: str) -> int:
    """Rows in either relation but not the other, counted as a multiset."""
    return con.sql(
        f"SELECT (SELECT count(*) FROM (({got_sql}) EXCEPT ALL ({want_sql}))) + "
        f"(SELECT count(*) FROM (({want_sql}) EXCEPT ALL ({got_sql})))"
    ).fetchone()[0]


def _avg_units(sum_sql: str, n_sql: str) -> str:
    """Half-up 2-dp average of an exact centi-unit sum, as DOUBLE."""
    return (f"(CAST((2 * ({sum_sql}) * 100 + ({n_sql}) * 100) // "
            f"(2 * CAST({n_sql} AS BIGINT) * 100) AS DOUBLE) / 100.0)")


class Workload:
    name = ""
    #: what one operation is, for the printed table (``<label>_p50_s``)
    op_label = "op"
    #: untimed operations run after set-up, counted in setup_s
    warmup_ops = 1
    #: operations come in cycles; the runner stops only at a cycle end
    cycle = 1

    def __init__(self, h) -> None:
        self.h = h
        self.spark = h.spark
        self.inp = os.path.join(h.work, "input")
        self.out = os.path.join(h.work, "output")
        self.input_bytes = 0
        self.extras: dict[str, float] = {}

    def generate(self) -> None:  # pragma: no cover - abstract
        raise NotImplementedError

    def prepare(self) -> None:
        """Set-up after generation that the operations build on."""

    def op(self, i: int):  # pragma: no cover - abstract
        raise NotImplementedError

    def after_op(self, state, traced: bool) -> None:
        for df in state or ():
            df.unpersist()

    def check(self) -> list[str]:  # pragma: no cover - abstract
        raise NotImplementedError

    def last_op_input_bytes(self) -> int:
        """Input bytes that the last operation consumed."""
        return self.input_bytes

    def wrong_ops(self, ops: range) -> int:
        """How many of the measured ``ops`` a failed check makes wrong:
        all of them, since each one updates the checked outputs."""
        return len(ops)

    def report(self, p50: float, write_amp: float) -> dict[str, tuple[float, str]]:
        """Workload-specific end-to-end figures for the printed table."""
        return {}

    def _fresh_input(self) -> None:
        shutil.rmtree(self.inp, ignore_errors=True)
        os.makedirs(self.inp)


# --- incremental_refresh ----------------------------------------------------


class IncrementalRefresh(Workload):
    """One @daily run of the reference system per operation.

    IoT readings (HW-4): keyed upsert of the day's delta (new readings
    plus late corrections to the previous 6 days) into the day-partitioned
    history, the additive mart refreshed from a streaming inbox with an
    availableNow trigger, and the last-7-days rebuild: percentile trim
    with bounds over the whole history -> daily average -> dynamic
    partition overwrite -> top-5 hot/cold days (HW-3).

    User sessions (final-module-3): the day's raw documents with injected
    duplicates are replicated (keyed dedup), cleaned, gated, upserted into
    the month-partitioned clean layer, and the touched month of the user
    activity mart is rebuilt from it.
    """

    name = "incremental_refresh"
    op_label = "refresh"
    #: the JIT settles over the first refreshes (measured 8.1, 6.7, 5.9,
    #: 6.0, 5.7 s after a single warm-up refresh)
    warmup_ops = 2
    HISTORY_DAYS, ROWS_PER_DAY, CORRECTIONS = 20, 1_500, 100
    SESSIONS_PER_DAY, USERS = 600, 300
    MAX_REFRESHES = 20
    INBOX_SCHEMA = "day DATE, value_cents BIGINT, weight BIGINT"

    def generate(self) -> None:
        self._fresh_input()
        i = self.inp
        feed = gen.ReadingsFeed(self.h.seed, self.HISTORY_DAYS, self.ROWS_PER_DAY, self.CORRECTIONS)
        self.input_bytes = gen.write_partitioned(feed.history, f"{i}/history", "day")
        os.makedirs(f"{i}/inbox_src")
        # the additive mart bootstraps from the history as the inbox's first file
        gen.write_parquet(feed.bootstrap_inbox(), f"{i}/inbox_src/boot.parquet")
        os.makedirs(f"{i}/deltas")
        os.makedirs(f"{i}/sessions")
        self.delta_bytes, self.delta_rows, self.day = [], [], []
        for k in range(self.MAX_REFRESHES):
            delta, inbox = feed.next_delta()
            day = self.HISTORY_DAYS + k
            sess = gen.daily_sessions(self.h.seed, day, self.SESSIONS_PER_DAY, self.USERS)
            self.delta_bytes.append(
                gen.write_parquet(delta, f"{i}/deltas/{k:04d}.parquet")
                + gen.write_parquet(inbox, f"{i}/inbox_src/{k:04d}.parquet")
                + gen.write_parquet(sess, f"{i}/sessions/{k:04d}.parquet"))
            self.delta_rows.append(delta.num_rows)
            self.day.append(delta.column("day")[0].as_py())

    def prepare(self) -> None:
        o = self.out
        shutil.rmtree(o, ignore_errors=True)
        os.makedirs(f"{o}/inbox")
        self.hist, self.ivm, self.mart = f"{o}/history", f"{o}/ivm_mart", f"{o}/daily_mart"
        self.ckpt = f"{o}/ivm_checkpoint"
        self.sess_clean, self.activity = f"{o}/sessions_clean", f"{o}/mart_user_activity"
        shutil.copytree(f"{self.inp}/history", self.hist)
        shutil.copy(f"{self.inp}/inbox_src/boot.parquet", f"{o}/inbox/boot.parquet")
        self.applied = 0
        self.bytes_in_applied = self.input_bytes

    def op(self, i: int):
        t, s, k, o = self.h.tracer, self.spark, self.applied, self.out
        if k >= self.MAX_REFRESHES:
            raise RuntimeError("delta feed exhausted; raise MAX_REFRESHES")
        shutil.copy(f"{self.inp}/inbox_src/{k:04d}.parquet", f"{o}/inbox/{k:04d}.parquet")
        traced = t.enabled
        with t.span("readers.load"):
            delta = s.read.parquet(f"{self.inp}/deltas/{k:04d}.parquet")
            raw_sessions = load_table(s, f"{self.inp}/sessions", f"{k:04d}")
        e0 = self.h.counters.next_execution_id() if traced else None
        with t.span("sinks.upsert"):
            sinks.upsert_keep_newest(s, delta, self.hist, ["reading_id"], "updated_at",
                                     partition_col="day")
        e1 = self.h.counters.next_execution_id() if traced else None
        with t.span("ivm.refresh"):
            stream = s.readStream.schema(self.INBOX_SCHEMA).parquet(f"{o}/inbox")
            q = streaming_additive_mart(stream, self.ivm, self.ckpt, ["day"], ["value_cents"],
                                        weight_col="weight")
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"streaming refresh failed: {q.exception()}")
        hist = s.read.parquet(self.hist)
        window = hist.where(F.col("day") >= F.lit(self.day[k]) - F.expr("INTERVAL 6 DAYS"))
        with t.span("operators.percentile_trim"):
            trimmed = _materialize(percentile_trim(window, "value", bounds_over=hist))
        with t.span("operators.daily_avg"):
            daily = _materialize(daily_avg(trimmed, "day", "value"))
        with t.span("sinks.overwrite_window"):
            sinks.overwrite_window(s, daily, self.mart, "day")
        with t.span("operators.topk"):
            sinks.write_overwrite(topk_extremes(s.read.parquet(self.mart)), f"{o}/topk_extremes")

        with t.span("reference_pipelines.replicate"):
            sessions = _materialize(replicate_sessions(raw_sessions))
        with t.span("reference_pipelines.clean"):
            clean = _materialize(sessions_clean(sessions).withColumn("month", month_of("session_date")))
        with t.span("quality.gate"):
            gated, validate = quality.observed_checks(
                clean, {"non_positive_duration": F.count(F.when(F.col("duration_min") <= 0, 1))},
                "sessions_clean")
        with t.span("sinks.upsert"):
            sinks.upsert_keep_newest(s, gated, self.sess_clean, ["session_id"], "start_time",
                                     partition_col="month")
        with t.span("quality.gate"):
            validate()
        month = self.day[k].replace(day=1)
        with t.span("reference_pipelines.marts"):
            activity = _materialize(mart_user_activity(
                s.read.parquet(self.sess_clean).where(F.col("month") == F.lit(month))))
        with t.span("sinks.overwrite_window"):
            sinks.overwrite_window(s, activity, self.activity, "report_month")

        self.applied += 1
        self.bytes_in_applied += self.delta_bytes[k]
        self.last = dict(k=k, q=q, e0=e0, e1=e1, trimmed=trimmed, window=window,
                         raw=raw_sessions, sessions=sessions)
        return [trimmed, daily, sessions, clean, activity]

    def after_op(self, state, traced: bool) -> None:
        if traced:
            last = self.last
            prog = last["q"].recentProgress
            dur = lambda key: sum(p["durationMs"].get(key, 0) for p in prog) / 1000.0  # noqa: E731
            up = self.h.counters.collect(last["e0"], last["e1"], tasks=False)
            removed = last["raw"].count() - last["sessions"].count()
            self.extras = {
                "streaming.trigger_s": dur("triggerExecution"),
                "streaming.add_batch_s": dur("addBatch"),
                "streaming.wal_commit_s": dur("walCommit") + dur("commitOffsets"),
                "ivm.mart_rows": float(self.spark.read.parquet(self.ivm).count()),
                "sinks.upsert_rows_rewritten_per_delta_row":
                    up.get("sinks.rows_written", 0.0) / self.delta_rows[last["k"]],
                "operators.percentile_kept_ratio": last["trimmed"].count() / last["window"].count(),
                "reference_pipelines.dupes_removed_ratio":
                    removed / gen.daily_dupes(self.SESSIONS_PER_DAY),
            }
        super().after_op(state, traced)

    def check(self) -> list[str]:
        bad = []
        n = self.applied
        if n == 0:
            return ["no refresh was applied"]
        con = duckdb.connect()
        i = self.inp
        deltas = ", ".join(f"'{i}/deltas/{k:04d}.parquet'" for k in range(n))
        sessions = ", ".join(f"'{i}/sessions/{k:04d}.parquet'" for k in range(n))
        con.execute(f"""
CREATE VIEW want_clean AS SELECT reading_id, value, value_cents, epoch(updated_at) AS upd, CAST(day AS VARCHAR) AS day
  FROM (SELECT reading_id, value, value_cents, updated_at, CAST(day AS DATE) AS day
          FROM read_parquet('{i}/history/*/*.parquet', hive_partitioning = true)
        UNION ALL
        SELECT reading_id, value, value_cents, updated_at, day FROM read_parquet([{deltas}]))
  QUALIFY row_number() OVER (PARTITION BY reading_id ORDER BY updated_at DESC) = 1;
CREATE VIEW got_clean AS SELECT reading_id, value, value_cents, epoch(updated_at) AS upd, CAST(day AS VARCHAR) AS day
  FROM read_parquet('{self.hist}/*/*.parquet', hive_partitioning = true);
CREATE VIEW sess AS SELECT * FROM read_parquet([{sessions}])
  QUALIFY row_number() OVER (PARTITION BY session_id ORDER BY start_time, user_id) = 1;
CREATE VIEW m AS SELECT user_id, device, pages_visited, actions,
    CAST(date_trunc('month', session_date) AS DATE) AS report_month,
    CAST((2 * secs * 100 + 60) // 120 AS BIGINT) AS dur_cents
  FROM (SELECT *, DATE '1970-01-01' + CAST(floor(epoch(start_time) / 86400) AS INTEGER) AS session_date,
               CAST(epoch(end_time) - epoch(start_time) AS BIGINT) AS secs FROM sess)
  WHERE secs > 0 AND secs < 86400;
""")
        if (d := _rows_differ(con, "SELECT * FROM got_clean", "SELECT * FROM want_clean")):
            bad.append(f"readings history: {d} rows differ from a full DuckDB rebuild")
        got = (f"SELECT CAST(day AS VARCHAR) AS day, n_rows, sum_value_cents "
               f"FROM read_parquet('{self.ivm}/*.parquet')")
        want = "SELECT day, count(*) AS n_rows, sum(value_cents) AS sum_value_cents FROM want_clean GROUP BY day"
        if (d := _rows_differ(con, got, want)):
            bad.append(f"additive mart: {d} rows differ from a full DuckDB rebuild")
        mart = (f"SELECT CAST(day AS VARCHAR) AS day, avg_value, n_readings "
                f"FROM read_parquet('{self.mart}/*/*.parquet', hive_partitioning = true)")
        lo = self.day[n - 1].isoformat()
        want = f"""
WITH p AS (SELECT quantile_cont(value, 0.05) lo, quantile_cont(value, 0.95) hi FROM want_clean)
SELECT day, {_avg_units('sum(value_cents)', 'count(*)')} AS avg_value, count(*) AS n_readings
FROM want_clean, p WHERE CAST(day AS DATE) >= DATE '{lo}' - INTERVAL 6 DAY AND value BETWEEN lo AND hi
GROUP BY day"""
        got = f"SELECT * FROM ({mart}) WHERE CAST(day AS DATE) >= DATE '{lo}' - INTERVAL 6 DAY"
        if (d := _rows_differ(con, got, want)):
            bad.append(f"7-day daily mart: {d} rows differ from a full DuckDB rebuild")
        top_want = f"""
SELECT * FROM (SELECT *, CAST(row_number() OVER (ORDER BY avg_value DESC, day) AS INT) AS rank, 'hot' AS kind FROM ({mart})) WHERE rank <= 5
UNION ALL
SELECT * FROM (SELECT *, CAST(row_number() OVER (ORDER BY avg_value, day) AS INT) AS rank, 'cold' AS kind FROM ({mart})) WHERE rank <= 5"""
        got = (f"SELECT CAST(day AS VARCHAR) AS day, avg_value, n_readings, rank, kind "
               f"FROM read_parquet('{self.out}/topk_extremes/*.parquet')")
        if (d := _rows_differ(con, got, top_want)):
            bad.append(f"topk_extremes: {d} rows differ from the DuckDB top-5 of the daily mart")
        ranks = con.sql(f"SELECT kind, list_sort(list(rank)) FROM ({got}) GROUP BY kind ORDER BY kind").fetchall()
        if ranks != [("cold", [1, 2, 3, 4, 5]), ("hot", [1, 2, 3, 4, 5])]:
            bad.append(f"topk_extremes ranks per kind are {ranks}, want 1..5 for hot and cold")
        n_clean = con.sql(f"SELECT count(*) FROM read_parquet('{self.sess_clean}/*/*.parquet')").fetchone()[0]
        n_want = con.sql("SELECT count(*) FROM m").fetchone()[0]
        if n_clean != n_want:
            bad.append(f"sessions clean layer has {n_clean} rows, a full DuckDB rebuild {n_want}")
        activity_want = f"""
WITH stats AS (SELECT user_id, report_month, count(*) AS total_sessions,
    CAST(sum(dur_cents) AS DOUBLE) / 100.0 AS total_duration_min,
    {_avg_units('sum(dur_cents)', 'count(*)')} AS avg_duration_min,
    sum(len(pages_visited)) AS total_pages, sum(len(actions)) AS total_actions
  FROM m GROUP BY 1, 2),
dev AS (SELECT user_id, report_month, device AS top_device FROM
  (SELECT user_id, report_month, device, count(*) c FROM m GROUP BY 1, 2, 3)
  QUALIFY row_number() OVER (PARTITION BY user_id, report_month ORDER BY c DESC, device) = 1),
kv AS (SELECT user_id, report_month, 'page' AS kind, unnest(pages_visited) AS v FROM m
  UNION ALL SELECT user_id, report_month, 'act', unnest(actions) FROM m),
top AS (SELECT user_id, report_month, kind, v FROM
  (SELECT user_id, report_month, kind, v, count(*) c FROM kv GROUP BY 1, 2, 3, 4)
  QUALIFY row_number() OVER (PARTITION BY user_id, report_month, kind ORDER BY c DESC, v) = 1)
SELECT s.user_id, CAST(s.report_month AS VARCHAR), total_sessions, total_duration_min,
       avg_duration_min, total_pages, total_actions, d.top_device, tp.v, ta.v
FROM stats s LEFT JOIN dev d USING (user_id, report_month)
LEFT JOIN (SELECT * FROM top WHERE kind = 'page') tp USING (user_id, report_month)
LEFT JOIN (SELECT * FROM top WHERE kind = 'act') ta USING (user_id, report_month)"""
        got = (f"SELECT user_id, CAST(report_month AS VARCHAR), total_sessions, total_duration_min, "
               f"avg_duration_min, total_pages, total_actions, top_device, top_page, top_action "
               f"FROM read_parquet('{self.activity}/*/*.parquet', hive_partitioning = true)")
        if (d := _rows_differ(con, got, activity_want)):
            bad.append(f"user activity mart: {d} rows differ from a full DuckDB rebuild")
        con.close()
        return bad

    def last_op_input_bytes(self) -> int:
        return self.delta_bytes[self.applied - 1]

    def report(self, p50: float, write_amp: float) -> dict[str, tuple[float, str]]:
        return {
            "write_amp": (write_amp, "ratio"),
            "space_amp": (dir_bytes(self.out) / self.bytes_in_applied, "ratio"),
        }


# --- catalog_queries ------------------------------------------------------------


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, int):
        return float(v) if abs(v) < 2**52 else v
    return str(v)


def value_hash(rows: list[tuple], cols: list[str]) -> tuple:
    """Order-insensitive normal form of a result: columns by name, rows
    sorted, floats to 9 places (the catalog's oracle comparison)."""
    order = sorted(range(len(cols)), key=lambda j: cols[j])
    norm = [tuple(_norm_cell(r[j]) for j in order) for r in rows]
    return tuple(sorted(cols)), tuple(sorted(norm, key=lambda t: tuple(str(x) for x in t)))


class CatalogQueries(Workload):
    """Short read-only catalog queries, each followed by clearCache(). The
    tables are generated once from a fixed seed; ``--seed`` only orders
    the query sequence (a fresh permutation per cycle)."""

    name = "catalog_queries"
    op_label = "query"
    TABLE_SEED, SCALE = 42, 0.005
    #: Oracle-checked entries from every query module whose DuckDB oracle
    #: is cheap at this scale. Four of the seven take about 0.4 s and
    #: three about 1 s, so the median of whole cycles falls inside the
    #: fast group, not between the two.
    NAMES = [
        "forecast_revenue_change",                                   # tpch
        "dedup_by_key", "exact_dedup_docs",                          # etl
        "latest_event_per_user",                                     # curation
        "quality_classifier",                                        # lm
        "robots_txt_screen",                                         # web
        "length_matched_sample",                                     # mm
    ]
    TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings")

    def generate(self) -> None:
        self._fresh_input()
        sizes = gen.catalog_tables(self.TABLE_SEED, self.SCALE, self.inp)
        self.input_bytes = sum(sizes.values())
        rng = random.Random(self.h.seed)
        self.sequence = []
        for _ in range(64):
            self.sequence += rng.sample(self.NAMES, len(self.NAMES))
        self.cycle = len(self.NAMES)
        self.warmup_ops = 2 * self.cycle
        self.results: dict[str, tuple] = {}

    def op(self, i: int):
        from hse_etl_ochirov_aldar_spark.queries import QUERIES

        t = self.h.tracer
        name = self.sequence[i % len(self.sequence)]
        with t.span("queries.plan"):
            df = QUERIES[name](self.spark, self.inp)
        with t.span("queries.exec"):
            rows = df.collect()
        self.results[name] = (df.columns, [tuple(r) for r in rows])
        return None

    def after_op(self, state, traced: bool) -> None:
        self.spark.catalog.clearCache()

    def check(self) -> list[str]:
        from hse_etl_ochirov_aldar_spark.queries import ORACLES

        con = duckdb.connect()
        for table in self.TABLES:
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{self.inp}/{table}.parquet')")
        bad = []
        for name, (cols, rows) in sorted(self.results.items()):
            rel = con.sql(ORACLES[name])
            if value_hash(rows, cols) != value_hash(rel.fetchall(), list(rel.columns)):
                bad.append(f"{name}: result differs from its DuckDB oracle")
        con.close()
        self.wrong = {b.split(":")[0] for b in bad}
        return bad

    def wrong_ops(self, ops: range) -> int:
        return sum(1 for k in ops if self.sequence[k % len(self.sequence)] in self.wrong)


WORKLOADS = {w.name: w for w in (IncrementalRefresh, CatalogQueries)}
