"""lookup: selective queries over thousands of small sealed files.

2,100 files: more than the planner's 2,048-entry sidecar cache holds,
fewer than its 4,096-entry footer cache does.

Events land in ``day=`` partition directories, written by the batch sink
with write-time zone maps (``statsschema``) and blooms (``bloomcolumns``
on the unclustered ``user_id``). One op is a fresh ``load()`` with one
seeded selective predicate and a small aggregate; the predicate cycles
over the three pruning tiers: an ``event_id`` range (zone map), a
``user_id`` point-IN (bloom) and a ``day`` filter (partition path).
Planning (footer and sidecar reads, O(files)) and the per-action floor
dominate; decode is tiny.
"""

from __future__ import annotations

import os

import numpy as np

import data
import harness

DAYS = 525           # x nproc (4) tasks = 2,100 files
ROWS_PER_DAY = 80
USERS = 200_000
QUERIES = 96         # seeded predicates, cycled by the op loop
DDL = "event_id bigint, user_id bigint, kind string, amount bigint, msg string"
BLOOM_BITS = 4096


def _day(d: int) -> str:
    return f"d{d:04d}"


class Workload(harness.Workload):
    name = "lookup"
    unit = "query"
    setup_reps = 1  # the 2,100-file sink write is the set-up's bulk
    warmup_ops = 3  # one query of each pruning tier
    round_ops = 3   # the tiers' latencies differ: time whole rounds

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.dir = ctx.path("lookup")
        self.sink_s = 0.0

    def build(self, rep: int) -> None:
        import time

        import pyarrow as pa
        from pyspark.sql import functions as F

        rng = np.random.default_rng(self.ctx.seed)
        vocab = data.vocabulary(rng)
        n = DAYS * ROWS_PER_DAY
        t = data.events(rng, vocab, 0, n, users=USERS, msg_words=(2, 6))
        # event time advances with the id: a day holds a contiguous id range
        t = t.append_column("day", pa.array([_day(d) for d in np.arange(n) // ROWS_PER_DAY]))
        oracle = data.Oracle()
        oracle.register("ev", t)
        self.input_bytes = len(oracle.ndjson("ev", self.ctx.path("lookup.ndjson")))
        self.queries = self._queries(rng, n)
        self.expected = [oracle.rows(
            f"SELECT count(*), coalesce(sum(amount), 0) FROM ev WHERE {q['sql']}")[0]
            for q in self.queries]
        oracle.close()

        spark = self.ctx.spark
        df = spark.createDataFrame(t.to_pandas())
        # nproc tasks, each holding rows of every day: nproc files per day
        out = (df.repartition(self.ctx.nproc, "event_id")
               .sortWithinPartitions("event_id")
               .select(F.to_json(F.struct("event_id", "user_id", "kind", "amount", "msg"))
                       .alias("value"), "day"))
        t0 = time.perf_counter()
        with self.ctx.tracer.span("datasource.sink"):
            (out.write.format("fourmc").option("codec", "zstd").option("level", "medium")
             .option("partitionby", "day").option("statsschema", DDL)
             .option("bloomcolumns", "user_id").option("bloombits", BLOOM_BITS)
             .mode("overwrite").save(self.dir))
        self.sink_s = time.perf_counter() - t0

    def _queries(self, rng: np.random.Generator, n: int) -> list[dict]:
        from pyspark.sql.datasource import (
            GreaterThanOrEqual, In, LessThan,
        )

        qs = []
        for i in range(QUERIES):
            tier = ("zone", "bloom", "partition")[i % 3]
            if tier == "zone":
                lo = int(rng.integers(0, n - 2 * ROWS_PER_DAY))
                hi = lo + int(rng.integers(ROWS_PER_DAY // 2, 2 * ROWS_PER_DAY))
                qs.append({"tier": tier, "lo": lo, "hi": hi,
                           "sql": f"event_id >= {lo} AND event_id < {hi}",
                           "filters": [GreaterThanOrEqual(("event_id",), lo),
                                       LessThan(("event_id",), hi)]})
            elif tier == "bloom":
                users = sorted(int(u) for u in rng.choice(USERS, 3, replace=False))
                qs.append({"tier": tier, "users": users,
                           "sql": f"user_id IN ({', '.join(map(str, users))})",
                           "filters": [In(("user_id",), tuple(users))]})
            else:
                days = sorted({_day(int(d)) for d in rng.integers(0, DAYS, 2)})
                lit = ", ".join(f"'{d}'" for d in days)
                qs.append({"tier": tier, "days": days, "sql": f"day IN ({lit})",
                           "filters": [In(("day",), tuple(days))]})
        return qs

    def op(self, i: int) -> tuple[float, bool]:
        from pyspark.sql import functions as F

        q = self.queries[i % QUERIES]
        tr = self.ctx.tracer
        # a fresh load() per query: a reused filtered relation would
        # replay its pruned scan (the README's readInfo-cache caution)
        with tr.span("datasource.load"):
            df = (self.ctx.spark.read.format("fourmc").option("jsonschema", DDL)
                  .option("partitioncolumns", "day").load(self.dir))
        if q["tier"] == "zone":
            df = df.where((F.col("event_id") >= q["lo"]) & (F.col("event_id") < q["hi"]))
        elif q["tier"] == "bloom":
            df = df.where(F.col("user_id").isin(q["users"]))
        else:
            df = df.where(F.col("day").isin(q["days"]))
        with tr.span("spark.action", tier=q["tier"]):
            r = df.agg(F.count("*"), F.coalesce(F.sum("amount"), F.lit(0))).collect()[0]
        return 1.0, tuple(r) == self.expected[i % QUERIES]

    def stored_ratio(self) -> float:
        return data.tree_bytes(self.dir) / self.input_bytes

    # -- per-layer hooks ----------------------------------------------------

    def read_options(self) -> dict:
        return {"path": self.dir, "jsonschema": DDL, "partitioncolumns": "day"}

    def scan_path(self) -> str:
        """Ten days (40 files): a full scan of all 2,100 one-task files
        would measure task scheduling, not the I/O layers."""
        return os.path.join(self.dir, "day=d000*")

    def plan_filters(self) -> list[list]:
        return [q["filters"] for q in self.queries[:3]]

    def layer_metrics(self) -> dict:
        from fourmc_spark.sources.datasource import _list_files

        files = _list_files(self.dir)
        data_b = sum(os.path.getsize(p) for p in files)
        return {
            "datasource.sink_s": self.sink_s,
            "datasource.sink_files": len(files),
            "datasource.sidecar_bytes_ratio": (data.tree_bytes(self.dir) - data_b) / data_b,
        }
