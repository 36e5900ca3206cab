#!/usr/bin/env python
"""Round-10 optimization: segment-level profiling of the hot bench queries.

The bench's top band is dominated by sidecar-lifecycle queries (write ->
ANALYZE -> poison -> pruned read) and the streaming heavy-hitters chain.
sf0.1 inputs are ~2 MB, so wall time there is fixed overhead, not data.
This script re-runs the exact bodies with per-segment timers so the
optimization targets are measured, not guessed (guide §1).

    python scripts/profile_r10_hotspots.py [segment ...]

Segments: fixed, bloom, stream_hh
"""
from __future__ import annotations

import glob as _glob
import json
import os
import shutil
import sys
import tempfile
import time
import uuid as _uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

T: dict[str, float] = {}


def tick(label: str, t0: float) -> float:
    t = time.perf_counter()
    T[label] = round(t - t0, 3)
    return t


def profile_fixed_overhead(spark) -> None:
    """Fixed cost of Python-datasource jobs: tiny write, tiny read."""
    from pyspark.sql import functions as F

    d = tempfile.mkdtemp(prefix="fourmc-prof-fixed-")
    try:
        df = spark.range(100).select(F.to_json(F.struct("id")).alias("value"))
        # warm
        df.write.format("fourmc").mode("overwrite").save(d)
        spark.read.format("fourmc").load(d).count()
        for i in range(3):
            t0 = time.perf_counter()
            df.write.format("fourmc").mode("overwrite").save(d)
            tick(f"tiny_write_{i}", t0)
            t0 = time.perf_counter()
            spark.read.format("fourmc").load(d).count()
            tick(f"tiny_read_count_{i}", t0)
            t0 = time.perf_counter()
            spark.read.format("fourmc").option(
                "jsonschema", "id bigint"
            ).load(d).count()
            tick(f"tiny_typed_read_count_{i}", t0)
        # a jvm-only job of similar shape, for the floor
        t0 = time.perf_counter()
        spark.range(100).write.format("noop").mode("overwrite").save()
        tick("tiny_noop_jvm", t0)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def profile_bloom(spark) -> None:
    """sql_4mc_bloom_scan segments (bench: ~3.3 s)."""
    from pyspark.sql import functions as F

    from fourmc_spark.operators.maintenance import analyze_bloom
    from fourmc_spark.queries import _t
    from fourmc_spark.format.sidecar import STATS_SUFFIX, seal_bloom_spec

    ddl = "event_id bigint, user_id bigint, event_type string, value double"
    ev = _t(spark, SF_DIR, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    bits, k = 1 << 18, 6
    d = tempfile.mkdtemp(prefix="fourmc-prof-bloom-")
    try:
        t0 = time.perf_counter()
        (
            ev.repartition(6)
            .select(F.to_json(F.struct(*ev.columns)).alias("value"))
            .write.format("fourmc")
            .option("codec", "zstd").option("level", "medium")
            .mode("overwrite").save(d)
        )
        t0 = tick("bloom_fixture_write", t0)
        analyze_bloom(spark, d, ddl, ["event_id"], bits=bits, k=k)
        t0 = tick("bloom_analyze", t0)
        poison = os.path.join(d, "poison.4mz")
        with open(poison, "wb") as f:
            f.write(b"NOT-A-4MC-CONTAINER" * 16)
        with open(poison + STATS_SUFFIX, "w") as f:
            json.dump(
                {
                    "version": 2,
                    "size": os.path.getsize(poison),
                    "bloom": {
                        "event_id": seal_bloom_spec(bytes(bits // 8), bits, k, "int"),
                    },
                },
                f,
            )
        t0 = tick("bloom_poison", t0)
        out = (
            spark.read.format("fourmc")
            .option("jsonschema", ddl).load(d)
            .where(F.col("event_id").isin([3, 17, 411, 888]))
            .select("event_id", "user_id", "event_type", "value")
            .orderBy("event_id")
        )
        n = out.limit(10001).count()
        t0 = tick("bloom_read_count", t0)
        out.toPandas()
        t0 = tick("bloom_toPandas", t0)
        assert n > 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def profile_stream_hh(spark) -> None:
    """stream_heavy_hitters segments (bench: ~8.7 s)."""
    from pyspark.sql import functions as F

    from fourmc_spark.queries import _t
    from fourmc_spark.session import register_fourmc
    from fourmc_spark.streaming import (
        heavy_hitters_finalize, heavy_hitters_sketch_stream,
    )

    register_fourmc(spark)
    root = tempfile.mkdtemp(prefix="fourmc-prof-hh-")
    staged, live, ckpt = f"{root}/staged", f"{root}/live", f"{root}/ckpt"
    ddl = "doc_id bigint, text string"
    try:
        t0 = time.perf_counter()
        (
            _t(spark, SF_DIR, "documents").select("doc_id", "text")
            .repartition(5)
            .select(F.to_json(F.struct("doc_id", "text")).alias("value"))
            .write.format("fourmc").option("codec", "zstd")
            .mode("overwrite").save(staged)
        )
        t0 = tick("hh_fixture_write", t0)
        files = sorted(_glob.glob(f"{staged}/part-*.4mz"))
        os.makedirs(live)
        os.rename(files[0], f"{live}/{os.path.basename(files[0])}")
        sdf = (
            spark.readStream.format("fourmc")
            .option("maxfilespertrigger", "1").load(live)
            .select(F.from_json("value", ddl).alias("r")).select("r.*")
        )
        name = f"qhh_{_uuid.uuid4().hex[:12]}"
        q = (
            heavy_hitters_sketch_stream(sdf, phi=0.002)
            .writeStream.format("memory").queryName(name)
            .outputMode("update")
            .option("checkpointLocation", ckpt).start()
        )
        t0 = tick("hh_stream_start", t0)
        try:
            q.processAllAvailable()  # batch 0
            t0 = tick("hh_batch0", t0)
            for f in files[1:]:
                os.rename(f, f"{live}/{os.path.basename(f)}")
            q.processAllAvailable()
            t0 = tick("hh_batches_1_4", t0)
        finally:
            q.stop()
            q.awaitTermination()
        t0 = tick("hh_stream_stop", t0)
        corpus = (
            spark.read.format("fourmc").load(live)
            .select(F.from_json("value", ddl).alias("r")).select("r.*")
        )
        out = heavy_hitters_finalize(spark.table(name), corpus, phi=0.002)
        t0 = tick("hh_finalize_build", t0)
        n = out.limit(10001).count()
        t0 = tick("hh_recount_count", t0)
        out.toPandas()
        tick("hh_recount_toPandas", t0)
        assert n > 0
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    from fourmc_spark.session import get_spark

    known = {"fixed", "bloom", "stream_hh"}
    which = set(sys.argv[1:]) or known
    if which - known:
        # a typo'd segment must not "succeed" having measured nothing
        sys.exit(f"unknown segment(s) {sorted(which - known)}; "
                 f"choose from {sorted(known)}")
    spark = get_spark("profile-r10", master=f"local[{CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")
    # warm the session the way bench does: one query through the engine
    from fourmc_spark.queries import QUERIES

    QUERIES["q01_filter_project"](spark, SF_DIR).write.format("noop").mode(
        "overwrite"
    ).save()

    if "fixed" in which:
        profile_fixed_overhead(spark)
    for rep in range(2):
        if "bloom" in which:
            profile_bloom(spark)
            print(json.dumps({k: v for k, v in T.items() if k.startswith("bloom")}))
        if "stream_hh" in which:
            profile_stream_hh(spark)
            print(json.dumps({k: v for k, v in T.items() if k.startswith("hh")}))
    print(json.dumps(T, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
