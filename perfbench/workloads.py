"""The closed-loop workloads, each driven by one client.

A workload turns the seed into inputs, names the tables its set-up
warms, runs the warm-up pass that ends each set-up, yields the timed ops
cycle by cycle and checks its outputs once the timed phase is over. Each
op and each call into a layer inside it is wrapped in a tracer span
named after the module.
"""

from __future__ import annotations

import glob
import os
import statistics
import sys
import traceback

import numpy as np
import pyarrow.parquet as pq

from perfbench import datagen


STREAMING_METRICS = (
    "streaming.append_s", "streaming.fold_s", "streaming.rollup_s",
    "streaming.expire_s", "streaming.compact_s", "streaming.lookup_s",
    "streaming.lookup_tail_s", "streaming.bytes_written_per_input_byte",
    "streaming.live_bytes", "streaming.files_per_lookup",
)


def _log_failure(what: str) -> None:
    print(f"# perfbench: {what} failed", file=sys.stderr)
    traceback.print_exc(file=sys.stderr)


class _Collected:
    """Rows already collected from a DataFrame, in the shape the oracle
    harness's ``compare`` reads."""

    def __init__(self, columns: list[str], rows: list) -> None:
        self.columns = columns
        self._rows = rows

    def collect(self) -> list:
        return self._rows


class SqlMix:
    """Hasura-style relational reads: filters/pagination/point lookups,
    marketplace totals, TPC-H, an event rollup, a flagship join and an
    order window battery. Each op is one registry query, built and drained through the
    noop sink. One input directory, so the input-keyed memos are warm
    after the set-up's warm-up pass."""

    max_cycles = 1_000_000  # a run ends on time, not on inputs
    # Six point-style reads of about 0.3 s and three joins and window
    # batteries of 0.5-0.8 s (warm, 4 cores). Every cycle gives 6 and 3
    # samples, so the median falls inside the cheap group and the p90
    # inside the heavy one, never in the gap between them.
    ops = [
        "filters_combinators", "pagination_page3", "point_lookup_composite",
        "marketplace_multicoin_totals", "q6_forecast_revenue", "events_daily_rollup",
        "q3_shipping_priority", "flagship_owned_orders", "orders_window_function_battery",
    ]
    reads = ("customer", "lineitem", "orders", "events")  # every table the ops load

    def __init__(self, seed: int, run_dir: str, tracer) -> None:
        self.seed = seed
        self.tracer = tracer
        self.sf_dir = os.path.join(run_dir, "data", "tables")

    def make_inputs(self) -> None:
        datagen.write_tables(self.sf_dir, self.seed)

    def tables(self) -> list[tuple[str, str]]:
        return [(self.sf_dir, t) for t in self.reads]

    def _order(self, stream: int, key: int) -> list[str]:
        rng = np.random.default_rng([self.seed, stream, key])
        return [self.ops[k] for k in rng.permutation(len(self.ops))]

    def warm_up(self, spark, rep: int) -> None:
        """Every op once, collected instead of drained so that the output
        check needs no second execution. The memos are keyed by the Spark
        application, so every set-up builds them again."""
        self.outputs = {}
        for name in self._order(2, rep):
            try:
                with self.tracer.span("plans.build"):
                    df = self._query(spark, name)
                with self.tracer.span("plans.exec"):
                    self.outputs[name] = _Collected(df.columns, df.collect())
            except Exception:  # noqa: BLE001 - the output check counts it
                _log_failure(f"warm-up of {name}")

    def cycle(self, c: int) -> list[tuple[str, callable]]:
        return [(name, lambda spark, name=name: self._run(spark, name)) for name in self._order(3, c)]

    def _query(self, spark, name: str):
        from dwh_spark.plans.registry import QUERIES

        import dwh_spark.plans.all  # noqa: F401 - fills the registry

        return QUERIES[name](spark, self.sf_dir)

    def _run(self, spark, name: str) -> None:
        with self.tracer.span("plans.build"):
            df = self._query(spark, name)
        with self.tracer.span("plans.exec"):
            df.write.format("noop").mode("overwrite").save()

    def after_op(self, spark, op: int) -> None:
        pass

    def final_check(self, spark, timed: list[str]) -> int:
        """The last set-up's output of each distinct op against its oracle
        SQL in DuckDB, normalized as the repo's oracle harness does. Every
        timed execution of an op whose output is wrong counts as failed."""
        from dwh_spark.plans.registry import ORACLES
        from tests.oracle_harness import compare, duckdb_connection

        con = duckdb_connection(self.sf_dir)
        wrong = set()
        for name in self.ops:
            try:
                compare(self.outputs[name], con, ORACLES[name], name)
            except Exception:  # noqa: BLE001 - a wrong or failing op is counted, not fatal
                _log_failure(f"check of {name}")
                wrong.add(name)
        con.close()
        return sum(name in wrong for name in timed)

    def layer_metrics(self, timed_ops: set[int]) -> dict[str, float]:
        # registry ops never call the streaming stores
        return dict.fromkeys(STREAMING_METRICS, 0.0)


class CdcIngest:
    """The indexer's write path: each op is one arriving batch of events,
    appended to the insert-only log, folded into the range-keyed latest-
    state store and rolled up into the stats store. K point reads follow
    each op, and every M batches the freshness daemon expires old
    versions and compacts the log; both run in the closed loop, outside
    the op's own measurement.

    The batch size follows the probe of this path (about 2.5k rows), and
    K = 5 is what that probe's cycle time leaves for lookups at 0.135 s
    each (2.2 - 0.19 - 0.86 - 0.49 - 0.03 s). The probe maintained every
    10 batches; M = 5 so that one cycle of M batches fits the run budget."""

    BATCH_ROWS = 2500
    N_USERS = 600
    LOOKUPS = 5  # K
    MAINTAIN_EVERY = 5  # M
    WARM_BATCHES = 1
    max_cycles = 8  # about 20 s each on 4 cores: --seconds up to about 140
    MAX_BATCHES = WARM_BATCHES + max_cycles * MAINTAIN_EVERY

    def __init__(self, seed: int, run_dir: str, tracer) -> None:
        self.seed = seed
        self.tracer = tracer
        self.run_dir = run_dir
        self.data = os.path.join(run_dir, "data")
        self.rng = np.random.default_rng([seed, 4])
        self.lookup_files: list[int] = []
        self.written = {"bytes": 0, "input": 0}
        self._seen: dict[str, tuple[int, int]] = {}

    def make_inputs(self) -> None:
        os.makedirs(self.data, exist_ok=True)
        events = datagen.events_table(
            np.random.default_rng(self.seed),
            self.BATCH_ROWS * self.MAX_BATCHES,
            self.N_USERS,
        )
        pq.write_table(events, os.path.join(self.data, "events.parquet"))
        self.events = events

    def tables(self) -> list[tuple[str, str]]:
        return [(self.data, "events")]

    def warm_up(self, spark, rep: int) -> None:
        """Empty stores, inbox and stream checkpoints of its own for each
        set-up, so the first batches start the streams as a fresh
        indexer does. The timed phase goes on with the last set-up's."""
        from dwh_spark.streaming.ingest import ParquetAppendLog, ParquetStateStore

        self.inbox = os.path.join(self.data, f"inbox{rep}")
        self.work = os.path.join(self.run_dir, f"work{rep}")
        os.makedirs(self.inbox)
        self.next_batch = 0
        self.log = ParquetAppendLog(os.path.join(self.work, "log"), write_partitions=1)
        self.state = ParquetStateStore(
            os.path.join(self.work, "state"), range_key="user_id", n_files=8
        )
        self.rollup = ParquetStateStore(os.path.join(self.work, "rollup"), write_partitions=1)
        self.schema = spark.read.parquet(os.path.join(self.data, "events.parquet")).schema
        for _ in range(self.WARM_BATCHES):
            self._batch(spark)
            self._lookups(spark, op=-1)
        self._store_bytes()

    def _batch(self, spark) -> int:
        """One op: land the next slice in the inbox, then append, fold
        and roll up."""
        from pyspark.sql import functions as F

        from dwh_spark.streaming.ingest import (
            run_incremental_compaction,
            run_incremental_rollup,
            stream_events,
        )

        i = self.next_batch
        self.next_batch += 1
        path = os.path.join(self.inbox, f"batch-{i:05d}.parquet")
        pq.write_table(self.events.slice(i * self.BATCH_ROWS, self.BATCH_ROWS), path)
        with self.tracer.span("streaming.append"):
            self.log.append(spark.read.parquet(path), i)
        with self.tracer.span("streaming.fold"):
            run_incremental_compaction(
                stream_events(spark, self.inbox, self.schema),
                self.state, os.path.join(self.work, "ckpt_fold"),
                keys=["user_id"], seq=F.struct("ts", "event_id"),
            )
        with self.tracer.span("streaming.rollup"):
            deltas = stream_events(spark, self.inbox, self.schema).select(
                F.to_date("ts").alias("day"), "event_type",
                F.col("value").cast("decimal(18,2)").alias("v"),
            )
            run_incremental_rollup(
                deltas, self.rollup, os.path.join(self.work, "ckpt_rollup"),
                keys=["day", "event_type"],
                measures={"n": F.count("*"), "sum_dec": F.sum("v")},
            )
        return os.path.getsize(path)

    def _maintain(self, spark, op: int) -> None:
        with self.tracer.span("streaming.expire", op=op):
            for store in (self.state, self.rollup):
                store.expire_versions(keep_from=store.last_committed())
        with self.tracer.span("streaming.compact", op=op):
            self.log.compact(spark)

    def _lookups(self, spark, op: int) -> None:
        seen = self.events.slice(0, self.next_batch * self.BATCH_ROWS)["user_id"]
        keys = self.rng.choice(np.asarray(seen), self.LOOKUPS)
        for key in keys:
            with self.tracer.span("streaming.lookup", op=op):
                self.state.lookup(spark, int(key)).collect()
            if op >= 0:
                self.lookup_files.append(self._files_covering(int(key)))

    def _files_covering(self, key: int) -> int:
        files = self.state.manifest()["files"]
        return sum(1 for f in files if f["min_key"] is not None and f["min_key"] <= key <= f["max_key"])

    def _store_files(self):
        for name in ("log", "state", "rollup"):
            for path in glob.glob(os.path.join(self.work, name, "**", "*"), recursive=True):
                if os.path.isfile(path):
                    yield path, os.stat(path)

    def _store_bytes(self) -> int:
        """Bytes of files created or rewritten in the stores since the
        last call (the filesystem's own count, not an estimate)."""
        added = 0
        for path, st in self._store_files():
            sig = (st.st_mtime_ns, st.st_size)
            if self._seen.get(path) != sig:
                self._seen[path] = sig
                added += st.st_size
        return added

    def cycle(self, c: int) -> list[tuple[str, callable]]:
        return [("cdc_batch", self._timed_batch)] * self.MAINTAIN_EVERY

    def _timed_batch(self, spark) -> None:
        self.written["input"] += self._batch(spark)

    def after_op(self, spark, op: int) -> None:
        if (op + 1) % self.MAINTAIN_EVERY == 0:
            self._maintain(spark, op)
        self.written["bytes"] += self._store_bytes()
        self._lookups(spark, op)

    def final_check(self, spark, timed: list[str]) -> int:
        """Both stores, the log and a sample of point reads against DuckDB
        over every batch folded so far."""
        import duckdb

        from tests.oracle_harness import compare

        con = duckdb.connect()
        con.execute(
            "CREATE VIEW batches AS SELECT * FROM read_parquet("
            f"'{os.path.join(self.inbox, '*.parquet')}')"
        )
        latest = (
            "SELECT * EXCLUDE (rn) FROM (SELECT *, row_number() OVER "
            "(PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn "
            "FROM batches) WHERE rn = 1"
        )
        checks = [
            ("state", lambda: self.state.current(spark), latest),
            ("rollup", lambda: self.rollup.current(spark),
             "SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n, "
             "sum(CAST(value AS DECIMAL(18,2))) AS sum_dec FROM batches GROUP BY 1, 2"),
            ("log", lambda: self.log.current(spark), "SELECT * FROM batches"),
        ]
        for key in np.random.default_rng([self.seed, 5]).choice(self.N_USERS, 3):
            checks.append((
                f"lookup {key}",
                lambda key=key: self.state.lookup(spark, int(key)),
                f"{latest} AND user_id = {int(key)}",
            ))
        mismatches = 0
        for name, frame, sql in checks:
            try:
                compare(frame(), con, sql, name)
            except Exception:  # noqa: BLE001 - a wrong output is counted, not fatal
                _log_failure(f"check of {name}")
                mismatches += 1
        con.close()
        return mismatches

    def layer_metrics(self, timed_ops: set[int]) -> dict[str, float]:
        def mean(name: str) -> float:
            d = self.tracer.durations(name, timed_ops)
            return statistics.fmean(d) if d else 0.0

        lookups = self.tracer.durations("streaming.lookup", timed_ops)
        live = sum(st.st_size for _, st in self._store_files())
        return {
            "streaming.append_s": mean("streaming.append"),
            "streaming.fold_s": mean("streaming.fold"),
            "streaming.rollup_s": mean("streaming.rollup"),
            "streaming.expire_s": mean("streaming.expire"),
            "streaming.compact_s": mean("streaming.compact"),
            "streaming.lookup_s": statistics.median(lookups),
            "streaming.lookup_tail_s": tail(lookups),
            "streaming.bytes_written_per_input_byte": (
                self.written["bytes"] / self.written["input"]
            ),
            "streaming.live_bytes": float(live),
            "streaming.files_per_lookup": statistics.fmean(self.lookup_files),
        }


def tail(values: list[float]) -> float:
    """The p90 (inclusive interpolation) of a run's samples."""
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


WORKLOADS = {"sql_mix": SqlMix, "cdc_ingest": CdcIngest}
