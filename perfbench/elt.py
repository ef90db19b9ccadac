"""The ELT workload over the Superset star: daily loads, each followed by
the serving queries users run against the fresh store.

Each cycle is one simulated day:

1. ``v2_daily_load``: watermark ingest of the ``logs`` fact and the
   ``ab_user`` dim (strict ``>``, append into a Replacing store),
   retention ``delete_where``, partition-wise ``compact``;
2. ``merge_into``: upsert of the non-Replacing ``dashboards`` dim;
3. the freshness watermark probe, then a seeded query mix over the live
   store: a ``latest_view`` (FINAL) rollup, a ``DictionaryRegistry``
   enrich month×action rollup over ``ab_user``, a zone-pruned
   ``read_where`` id range, a bloom-pruned ``read_eq`` and a
   ``read_since`` CDC delta.

The store holds ``HISTORY_MONTHS`` monthly partitions under a retention
window one month shorter. The engine's retention cutoff is month-truncated
(``months_ago``), so the simulated clock moves one month per cycle: every
cycle's day lands in a fresh month, the cutoff advances one month and
``delete_where`` expires exactly the oldest partition. The store therefore
keeps its size — a steady state, so cycle times do not drift with run
length.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
from pyspark.sql import functions as F

from from_superset_to_clickhouse_spark import watermark as wm
from from_superset_to_clickhouse_spark.dictionary import DictionaryRegistry
from from_superset_to_clickhouse_spark.operators.ingest import ingest
from from_superset_to_clickhouse_spark.plans.reference_pipelines import v2_daily_load
from from_superset_to_clickhouse_spark.schema import AB_USER, DASHBOARDS, LOGS
from from_superset_to_clickhouse_spark.tablestore import TableStore

import gen

DASH = DASHBOARDS.clone("dashboards", dedup_key=(), version_col=None)
# The retention window plus the month it expires. Short, so that a run
# (three set-ups and the cycles) stays well under a minute on 4 cores.
HISTORY_MONTHS = 4
RETENTION_MONTHS = HISTORY_MONTHS - 1
RESEND_SHARE = 0.05
SIZES = {
    "full": dict(month_rows=2_000, day_rows=4_000, users=1_000, dashboards=300,
                 new_users=20, user_updates=50, new_dash=5, dash_updates=20),
    "smoke": dict(month_rows=100, day_rows=200, users=50, dashboards=20,
                  new_users=3, user_updates=5, new_dash=2, dash_updates=3),
}


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _d, fs in os.walk(path) for f in fs
    )


def _agg(df) -> tuple:
    r = df.agg(F.count("*").alias("n"), F.sum("duration_ms").alias("d"),
               F.max(F.unix_micros("dttm")).alias("t")).first()
    return (r["n"], r["d"], r["t"])


class EltDaily:
    name = "elt_daily"
    setup_reps = 3
    # The first set-up already runs the ingest path on a cold JVM; the
    # first cycle is not measurably slower than later ones.
    warmup = False
    min_cycles = 2

    def __init__(self, spark, work: str, seed: int, size: str):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.z = SIZES[size]
        self.break_check = False
        self._rep = 0

    def _ingest(self, paths, schema, field) -> int:
        return ingest(self.store, self.spark.read.parquet(*paths), schema, field,
                      source_tag="superset", count_rows=True)

    def setup(self) -> None:
        """Generate the history and preload it through the engine's own
        ingest path into a fresh store."""
        z = self.z
        self._rep += 1
        shutil.rmtree(os.path.join(self.work, f"rep{self._rep - 1}"), ignore_errors=True)
        d = os.path.join(self.work, f"rep{self._rep}")
        self.src = os.path.join(d, "src")
        self.store = TableStore(self.spark, os.path.join(d, "store"))
        self.rng = np.random.default_rng(self.seed)
        self.digest = gen.Digest()
        self.clock = gen.StarClock(self.rng, self.digest, z["users"], z["dashboards"])
        self.month_ids: dict[int, int] = {}
        self.month_bytes: dict[int, int] = {}
        hist = []
        for m in range(HISTORY_MONTHS):
            p = os.path.join(self.src, f"logs_m{m}.parquet")
            b = self.clock.logs(p, z["month_rows"], gen.month_start(m), gen.month_start(m + 1))
            self.month_ids[m], self.month_bytes[m] = b["new_ids"], b["bytes"]
            hist.append(p)
        self.logs_prev = hist[-1]
        self.users_prev = os.path.join(self.src, "users_0.parquet")
        self.dim_bytes = self.clock.users(self.users_prev, z["users"], 0, gen.EPOCH)["bytes"]
        dash_path = os.path.join(self.src, "dash_0.parquet")
        self._write_dash(dash_path, self.clock.dashboards(z["dashboards"], 0, gen.EPOCH))
        self.dim_bytes += os.path.getsize(dash_path)
        self.month = HISTORY_MONTHS - 1

        # History is already compacted (no re-sent ids); the bloom index
        # is declared first so the preload maintains it.
        self.store.create(LOGS)
        self.store.add_bloom_index("logs", "dashboard_id")
        n = self._ingest(hist, LOGS, "dttm")
        if n != z["month_rows"] * HISTORY_MONTHS:
            raise RuntimeError(f"history ingest loaded {n} rows")
        self._ingest([self.users_prev], AB_USER, "changed_on")
        self._ingest([dash_path], DASH, "changed_on")
        self.seqs = [self.store.current_seq("logs")]
        # ab_user changes every day and the dictionary lifetime (12 h in
        # the reference) is shorter than a day, so every cycle reloads it.
        self.reg = DictionaryRegistry()
        self.reg.register("ab_user", lambda: self.store.latest_view("ab_user")
                          .select("id", "active"), key="id", lifetime_s=0)
        import duckdb

        self.db = duckdb.connect()
        self.db.execute("SET TimeZone='UTC'; SET threads=2")

    def _write_dash(self, path: str, dash: dict) -> None:
        cols = dict(dash["cols"])
        for c in ("created_on", "changed_on"):
            cols[c] = gen.ts_array(np.array(cols[c]))
        gen.write_parquet(path, cols)

    def _duck(self, sql: str) -> list:
        """Run ``sql`` in DuckDB over the store's own Parquet files."""
        for table in ("logs", "ab_user"):
            files = os.path.join(self.store.root, table, "data", "**", "*.parquet")
            sql = sql.replace(table.upper(), f"read_parquet('{files}', hive_partitioning=true)")
        return [tuple(r) for r in self.db.execute(sql).fetchall()]

    def iteration(self, run) -> None:
        z, clock, rng = self.z, self.clock, self.rng
        self.month += 1
        m = self.month
        t0 = gen.month_start(m)
        day_path = os.path.join(self.src, f"logs_m{m}.parquet")
        day = clock.logs(day_path, z["day_rows"], t0, t0 + dt.timedelta(days=1), RESEND_SHARE)
        users_path = os.path.join(self.src, f"users_{m}.parquet")
        users = clock.users(users_path, z["new_users"], z["user_updates"], t0)
        dash_path = os.path.join(self.src, f"dash_{m}.parquet")
        dash = clock.dashboards(z["new_dash"], z["dash_updates"], t0)
        self._write_dash(dash_path, dash)
        self.month_ids[m], self.month_bytes[m] = day["new_ids"], day["bytes"]
        expired = m - HISTORY_MONTHS
        # The sources still hold yesterday's batch: the strict `>`
        # watermark filter must drop it.
        fact = self.spark.read.parquet(self.logs_prev, day_path)
        dim = self.spark.read.parquet(self.users_prev, users_path)
        self.logs_prev, self.users_prev = day_path, users_path

        res = run.timed("write", "v2_daily_load", lambda: v2_daily_load(
            self.store, fact, LOGS, "dttm", dim, AB_USER, "changed_on",
            retention_months=RETENTION_MONTHS))
        want = (day["rows"] + int(self.break_check), users["rows"],
                self.month_ids.pop(expired))
        got = (res["fact_upload_data"], res["dim_upload_data"], res["delete_old_rows"])
        run.check(got == want, f"v2_daily_load (fact, dim, deleted) rows {got} != {want}")
        self.month_bytes.pop(expired)
        self.seqs.append(self.store.current_seq("logs"))

        src = DASH.coerce(self.spark.read.parquet(dash_path))
        counts = run.timed("write", "merge_into", lambda: self.store.merge_into(
            "dashboards", src, on=["id"]))
        run.check((counts["updated"], counts["inserted"]) == (dash["updates"], dash["inserts"]),
                  f"merge counts {counts} != {dash['updates']}/{dash['inserts']}")
        run.rows += day["rows"] + users["rows"] + dash["updates"] + dash["inserts"]
        run.user_bytes += day["bytes"] + users["bytes"] + os.path.getsize(dash_path)

        # The freshness probe counts in the cycle but not in the query
        # mix: with an odd number of query kinds the median query is one
        # kind's, not a jump between two.
        got = run.query("freshness", lambda: self.store.read("logs"),
                        lambda df: wm.probe(df, "dttm"), kind="probe")
        run.check(int(got.timestamp() * 1_000_000) == clock.max_dttm_us,
                  f"watermark {got} != generator max dttm")

        got = run.query("final_rollup", lambda: self.store.latest_view("logs")
                        .groupBy("action").agg(F.count("*").alias("n"),
                                               F.sum("duration_ms").alias("d")),
                        lambda df: sorted(tuple(r) for r in df.collect()))
        want = self._duck(
            "SELECT action, count(*), sum(duration_ms) FROM (SELECT action, duration_ms, "
            "row_number() OVER (PARTITION BY id ORDER BY dttm DESC, _ingest_seq DESC) rn "
            "FROM LOGS) WHERE rn = 1 GROUP BY action ORDER BY action")
        run.check(got == want, "final_rollup differs from DuckDB")
        n, want_n = sum(r[1] for r in got), sum(self.month_ids.values())
        run.check(n == want_n, f"latest_view rows {n} != distinct ids in window {want_n}")

        got = run.query("enrich_rollup", lambda: self.reg.enrich(
            self.store.read("logs"), "ab_user", fk="user_id", columns=["active"])
            .groupBy((F.year("dttm") * 100 + F.month("dttm")).alias("m"), "action", "active")
            .count(), lambda df: sorted(tuple(r) for r in df.collect()))
        want = sorted(self._duck(
            "WITH u AS (SELECT id, active FROM (SELECT id, active, row_number() OVER "
            "(PARTITION BY id ORDER BY changed_on DESC, _ingest_seq DESC) rn FROM AB_USER) "
            "WHERE rn = 1) "
            "SELECT year(l.dttm) * 100 + month(l.dttm), l.action, u.active, count(*) "
            "FROM LOGS l LEFT JOIN u ON l.user_id = u.id GROUP BY ALL"))
        run.check(got == want, "enrich_rollup differs from DuckDB")

        # Seeded point and range parameters.
        width = max(20, clock.next_id // 200)
        lo = int(rng.integers(clock.next_id // 2, clock.next_id - width))
        hi = lo + int(rng.integers(width // 4, width))
        dash_id = int(rng.integers(1, clock.n_dash + 1))
        since = self.seqs[max(0, len(self.seqs) - 1 - int(rng.integers(1, 4)))]
        for label, build, where in (
            ("read_where", lambda: self.store.read_where("logs", "id", lo, hi),
             f"id BETWEEN {lo} AND {hi}"),
            ("read_eq", lambda: self.store.read_eq("logs", "dashboard_id", dash_id),
             f"dashboard_id = {dash_id}"),
            ("read_since", lambda: self.store.read_since("logs", since),
             f"_ingest_seq > {since}"),
        ):
            got = run.query(label, build, _agg)
            want = self._duck("SELECT count(*), sum(duration_ms), max(epoch_us(dttm)) "
                              f"FROM LOGS WHERE {where}")[0]
            run.check(got == want, f"{label} {got} != DuckDB {want}")

    def store_bytes_per_user_byte(self) -> float:
        """Bytes on disk per byte of the input files whose rows the store
        still holds (retained months plus both dimensions)."""
        user = sum(self.month_bytes.values()) + self.dim_bytes
        return dir_bytes(self.store.root) / user

    def files_per_partition(self) -> float:
        data = os.path.join(self.store.path("logs"), "data")
        parts = [e for e in os.listdir(data) if "=" in e]
        n = sum(1 for p in parts for f in os.listdir(os.path.join(data, p))
                if f.endswith(".parquet"))
        return n / max(len(parts), 1)
