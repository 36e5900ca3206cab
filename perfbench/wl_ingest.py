"""ingest: a streaming dedup pipeline fed one sealed file at a time.

The bench lands one seeded ``.4mc`` file of events, about a tenth of them
re-delivered from the previous file, and lands the next only after that
file's micro-batch has committed. The stream is ``readStream`` fourmc
(``jsonschema``, ``orderednames``) -> ``dedup_within_watermark`` on
``event_id`` -> ``writeStream`` fourmc (zstd, ``statsschema``,
``bloomcolumns``). One op is land to commit. After the last file,
``compact_blocks`` seals the output; the sealed tree is read back and
checked as one more op.
"""

from __future__ import annotations

import ast
import os
import time

import numpy as np

import data
import harness

ROWS = 5_000
REDELIVER = 500  # events of the previous file landed again
DDL = ("event_id bigint, user_id bigint, kind string, amount bigint, msg string, "
       "ts timestamp")
STATS_DDL = "event_id bigint, user_id bigint, amount bigint"
WATERMARK = "2 hours"  # a file spans ~83 minutes of event time
POLL_S = 0.01
COMMIT_TIMEOUT_S = 60


class Workload(harness.Workload):
    name = "ingest"
    unit = "event"
    setup_reps = 1  # the stream's start is set-up work that happens once

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.inp = ctx.path("in")
        self.stage = ctx.path("stage")
        self.out = ctx.path("out")
        self.sealed = ctx.path("sealed")
        self.landed = 0
        self.landed_ids: set[int] = set()
        self.landed_bytes = 0
        self.batches_per_file: list[int] = []
        self.progress: list[dict] = []
        self.last_batch = -1
        self.since = 0  # index into progress of the current landing
        self.seal: dict = {}

    # -- set-up -------------------------------------------------------------

    def _generate(self) -> None:
        from fourmc_spark.format.writer import compress_bytes

        rng = np.random.default_rng(self.ctx.seed)
        vocab = data.vocabulary(rng)
        oracle = data.Oracle()
        self.files: list[tuple[bytes, int, int, set]] = []
        prev = None
        # an op takes over a second: the window can never land more
        for i in range(6 + int(self.ctx.seconds)):
            t = data.events(rng, vocab, i * ROWS, ROWS, users=20_000,
                            msg_words=(2, 6), with_ts=True)
            oracle.register("f", t)
            fresh = oracle.ndjson("f", self.ctx.path("f.ndjson"))
            again = b""
            if prev is not None:
                pick = np.sort(rng.choice(ROWS, REDELIVER, replace=False))
                oracle.register("p", prev.take(pick))
                again = oracle.ndjson("p", self.ctx.path("p.ndjson"))
            body = fresh + again
            ids = set(range(i * ROWS, (i + 1) * ROWS))
            self.files.append((compress_bytes(body, codec="lz4"), len(body),
                               ROWS + (REDELIVER if prev is not None else 0), ids))
            prev = t
        oracle.close()

    def build(self, rep: int) -> None:
        from fourmc_spark.streaming.ops import dedup_within_watermark
        from pyspark.sql import functions as F

        for d in (self.inp, self.stage, self.out):
            os.makedirs(d)
        self._generate()
        spark = self.ctx.spark
        src = (spark.readStream.format("fourmc").option("jsonschema", DDL)
               .option("orderednames", "true").load(self.inp))
        deduped = dedup_within_watermark(src, ["event_id"], watermark=WATERMARK)
        cols = [c.split()[0] for c in DDL.split(", ")]
        self.query = (
            deduped.select(F.to_json(F.struct(*cols)).alias("value"))
            .writeStream.format("fourmc").option("codec", "zstd")
            .option("statsschema", STATS_DDL).option("bloomcolumns", "user_id")
            .option("bloombits", 4096)
            .option("checkpointLocation", self.ctx.path("ckpt"))
            .option("path", self.out).start())
        self.job_group = str(self.query.runId)
        ok = self._land_and_wait()
        if not ok:
            raise RuntimeError("ingest: the first file did not commit as expected")

    # -- the unit op --------------------------------------------------------

    def _land_and_wait(self) -> bool:
        i = self.landed
        blob, raw_len, rows, ids = self.files[i]
        name = f"f{i:06d}.4mc"
        tr = self.ctx.tracer
        self.since = len(self.progress)
        with tr.span("stream.land"):
            tmp = os.path.join(self.stage, name)
            with open(tmp, "wb") as f:
                f.write(blob)
            os.rename(tmp, os.path.join(self.inp, name))
        with tr.span("stream.wait_commit"):
            batch = self._await(lambda p: p["numInputRows"] and _hwm(p) == name, name)
        with tr.span("stream.wait_nodata"):
            # the data batch advances the watermark; the trigger after it,
            # with no data, evicts the expired dedup state. The stream is
            # idle, and the op done, only when that one has committed too.
            self._await(lambda p: p["batchId"] > batch["batchId"], name)
        new = len(ids - self.landed_ids)
        self.landed += 1
        self.landed_ids |= ids
        self.landed_bytes += raw_len
        dropped = _dropped(batch)
        # every re-delivered event is a duplicate the state must catch
        return batch["numInputRows"] == rows and dropped == rows - new

    def _await(self, pred, name: str) -> dict:
        """The first progress event since the last landing that satisfies
        *pred*, polling the query until one does."""
        deadline = time.perf_counter() + COMMIT_TIMEOUT_S
        while True:
            self._progress()
            for p in self.progress[self.since:]:
                if pred(p):
                    return p
            if not self.query.isActive or time.perf_counter() > deadline:
                raise RuntimeError(f"ingest: {name} was not committed: "
                                   f"{self.query.exception()}")
            time.sleep(POLL_S)

    def _progress(self) -> list[dict]:
        """Progress events not seen before, oldest first; every event is
        also kept (the query itself keeps only the last 100)."""
        new = [p for p in self.query.recentProgress if p["batchId"] > self.last_batch]
        if new:
            self.last_batch = new[-1]["batchId"]
            self.progress.extend(new)
        return new

    def op(self, i: int) -> tuple[float, bool]:
        if self.landed >= len(self.files):
            raise RuntimeError("ingest: every generated file has landed")
        ok = self._land_and_wait()
        return float(self.files[self.landed - 1][2]), ok

    # -- seal and final gate ------------------------------------------------

    def finish(self) -> dict:
        from fourmc_spark.operators.maintenance import compact_blocks
        from pyspark.sql import functions as F

        self.query.processAllAvailable()
        self._progress()
        self._count_batches()
        self.query.stop()
        t = time.perf_counter()
        with self.ctx.tracer.span("maintenance.compact_blocks"):
            res = compact_blocks(self.ctx.spark, self.out, self.sealed)
        seal_s = time.perf_counter() - t
        from fourmc_spark.sources.datasource import STATS_SUFFIX, _list_files

        sealed_files = _list_files(self.sealed)
        one_sidecar_each = all(os.path.exists(p + STATS_SUFFIX) for p in sealed_files)
        with self.ctx.tracer.span("spark.action", check="read_back"):
            back = (self.ctx.spark.read.format("fourmc").option("jsonschema", DDL)
                    .load(self.sealed)
                    .agg(F.count("*"), F.countDistinct("event_id"),
                         F.min("event_id"), F.max("event_id")).collect()[0])
        n = len(self.landed_ids)
        ok = (one_sidecar_each and back[0] == n and back[1] == n
              and back[2] == min(self.landed_ids) and back[3] == max(self.landed_ids))
        self.seal = {
            "maintenance.compact_s": seal_s,
            "maintenance.files_in": res["inputs"],
            "maintenance.files_out": res["outputs"],
            "maintenance.bytes_rewritten": res["bytes"],
            "maintenance.sidecars_carried": res["stats_carried"],
        }
        return {"attempted": 1, "failed": 0 if ok else 1,
                "detail": {"seal_s": seal_s, "files_landed": self.landed,
                           "distinct_events": n, "rows_read_back": back[0]}}

    def _count_batches(self) -> None:
        """Micro-batches per landed file: its data batch plus the no-data
        batches (watermark advance) that ran before the next file."""
        per, cur = [], None
        for p in self.progress:
            if p["numInputRows"]:
                if cur is not None:
                    per.append(cur)
                cur = 1
            elif cur is not None:
                cur += 1
        if cur is not None:
            per.append(cur)
        self.batches_per_file = per

    def stored_ratio(self) -> float:
        return data.tree_bytes(self.sealed) / self.landed_bytes

    # -- per-layer hooks ----------------------------------------------------

    def read_options(self) -> dict:
        return {"path": self.sealed, "jsonschema": DDL}

    def layer_metrics(self) -> dict:
        from fourmc_spark.sources.datasource import _list_files

        med = harness.median
        dat = [p for p in self.progress if p["numInputRows"]]
        nod = [p for p in self.progress if not p["numInputRows"]]

        def dur(k):
            return med([p["durationMs"].get(k, 0) for p in dat])

        def state(k):
            return med([p["stateOperators"][0][k] for p in dat])

        out_files = _list_files(self.out)
        out_data = sum(os.path.getsize(p) for p in out_files)
        m = {
            "stream.trigger_ms": dur("triggerExecution"),
            "stream.latest_offset_ms": dur("latestOffset"),
            "stream.planning_ms": dur("queryPlanning"),
            "stream.add_batch_ms": dur("addBatch"),
            "stream.wal_commit_ms": dur("walCommit"),
            "stream.commit_offsets_ms": dur("commitOffsets"),
            "stream.state_commit_ms": state("commitTimeMs"),
            "stream.state_rows": self.progress[-1]["stateOperators"][0]["numRowsTotal"],
            "stream.state_memory_bytes": state("memoryUsedBytes"),
            "stream.batches_per_file": med(self.batches_per_file),
            "stream.nodata_batch_ms": med([p["durationMs"]["triggerExecution"] for p in nod]),
            "stream.dropped_duplicates": sum(_dropped(p) for p in dat),
            "datasource.sink_files": len(out_files),
            "datasource.sink_s": dur("addBatch") / 1e3,
            "datasource.sidecar_bytes_ratio": (data.tree_bytes(self.out) - out_data) / out_data,
        }
        m.update(self.seal)
        return m


def _hwm(p: dict) -> str | None:
    """The orderednames high-water mark of a progress event's end offset
    (the offset arrives as a Python-literal string, not JSON)."""
    end = p["sources"][0]["endOffset"]
    if isinstance(end, str):
        end = ast.literal_eval(end)
    return end.get("hwm") if end else None


def _dropped(p: dict) -> int:
    ops = p.get("stateOperators") or []
    return int(ops[0]["customMetrics"].get("numDroppedDuplicateRows", 0)) if ops else 0
