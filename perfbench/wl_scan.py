"""scan: full typed scans of a block-compressed event corpus.

Eight NDJSON event files, half ``.4mc`` (lz4 fast) and half ``.4mz``
(zstd medium), 4 MiB blocks. One op is a fresh ``load()`` with
``jsonschema`` plus a group-by aggregate over every row; decode, line
split, parse and the Arrow hand-off do the work, planning is eight
footer reads.
"""

from __future__ import annotations

import os

import numpy as np

import data
import harness

FILES = 8
ROWS_PER_FILE = 50_000
AGG_SQL = ("SELECT kind, count(*), sum(amount), sum(user_id), max(event_id), "
           "sum(length(msg)) FROM ev GROUP BY kind ORDER BY kind")


class Workload(harness.Workload):
    name = "scan"
    unit = "MB"
    setup_reps = 3

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.dir = None
        self.input_bytes = 0

    def build(self, rep: int) -> None:
        from fourmc_spark.format.writer import write_file

        rng = np.random.default_rng(self.ctx.seed)
        vocab = data.vocabulary(rng)
        oracle = data.Oracle()
        d = self.ctx.path(f"scan-{rep}")
        os.makedirs(d)
        tables, total = [], 0
        for i in range(FILES):
            t = data.events(rng, vocab, i * ROWS_PER_FILE, ROWS_PER_FILE, users=50_000)
            oracle.register("part", t)
            body = oracle.ndjson("part", self.ctx.path(f"part-{rep}.ndjson"))
            codec, level, ext = (("lz4", "fast", "4mc") if i % 2 == 0
                                 else ("zstd", "medium", "4mz"))
            with self.ctx.tracer.span("format.write_file", codec=codec):
                write_file(os.path.join(d, f"events-{i:02d}.{ext}"), body,
                           codec=codec, level=level)
            tables.append(t)
            total += len(body)
        import pyarrow as pa

        oracle.register("ev", pa.concat_tables(tables))
        self.expected = oracle.rows(AGG_SQL)
        oracle.close()
        if self.dir is not None:
            import shutil

            shutil.rmtree(self.dir)
        self.dir, self.input_bytes = d, total

    def op(self, i: int) -> tuple[float, bool]:
        from pyspark.sql import functions as F

        tr = self.ctx.tracer
        with tr.span("datasource.load"):
            df = (self.ctx.spark.read.format("fourmc")
                  .option("jsonschema", data.EVENT_DDL).load(self.dir))
        with tr.span("spark.action"):
            got = (df.groupBy("kind")
                   .agg(F.count("*"), F.sum("amount"), F.sum("user_id"),
                        F.max("event_id"), F.sum(F.length("msg")))
                   .orderBy("kind").collect())
        ok = [tuple(r) for r in got] == self.expected
        return self.input_bytes / 1e6, ok

    def stored_ratio(self) -> float:
        return data.tree_bytes(self.dir) / self.input_bytes

    # -- per-layer hooks ----------------------------------------------------

    def read_options(self) -> dict:
        return {"path": self.dir, "jsonschema": data.EVENT_DDL}
