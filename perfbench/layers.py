"""Per-layer probes for the traced run.

Each probe times one layer from outside, through its public calls, on
the workload's own files: the C codecs (``format.native``), the 4mc
framing (``format.reader``/``format.writer``), the Python DataSource's
planning and read in this process, and a Spark scan on ``nproc``.
Metrics a workload does not exercise are reported as 0.
"""

from __future__ import annotations

import os
import time

import harness

# name -> unit; the per-layer metric set every traced run reports
UNITS = {
    "session.start_s": "s",
    "spark.first_action_s": "s",
    "spark.action_floor_s": "s",
    "native.lz4_decompress_mbps": "MB/s",
    "native.zstd_decompress_mbps": "MB/s",
    "native.lz4_compress_mbps": "MB/s",
    "native.zstd_compress_mbps": "MB/s",
    "native.xxh32_mbps": "MB/s",
    "format.decode_mbps": "MB/s",
    "format.lines_mbps": "MB/s",
    "format.encode_mbps_1t": "MB/s",
    "format.encode_mbps_nt": "MB/s",
    "format.footer_read_us": "us",
    "datasource.plan_s_cold": "s",
    "datasource.plan_s_warm": "s",
    "datasource.partitions": "count",
    "datasource.files_kept": "count",
    "datasource.files_total": "count",
    "datasource.blocks_kept": "count",
    "datasource.cbytes_kept_ratio": "ratio",
    "datasource.read_mbps_raw": "MB/s",
    "datasource.read_mbps_typed": "MB/s",
    "datasource.read_rows_per_s_raw": "1/s",
    "datasource.read_rows_per_s_typed": "1/s",
    "datasource.sink_s": "s",
    "datasource.sink_files": "count",
    "datasource.sidecar_bytes_ratio": "ratio",
    "spark.scan_mbps": "MB/s",
    "spark.scan_marginal_mbps": "MB/s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_failures": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.input_records": "count",
    "stream.trigger_ms": "ms",
    "stream.latest_offset_ms": "ms",
    "stream.planning_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "stream.state_commit_ms": "ms",
    "stream.state_rows": "count",
    "stream.state_memory_bytes": "B",
    "stream.batches_per_file": "count",
    "stream.nodata_batch_ms": "ms",
    "stream.dropped_duplicates": "count",
    "maintenance.compact_s": "s",
    "maintenance.files_in": "count",
    "maintenance.files_out": "count",
    "maintenance.bytes_rewritten": "B",
    "maintenance.sidecars_carried": "count",
    "operators.quality_s": "s",
    "operators.exact_dedup_s": "s",
    "operators.minhash_s": "s",
    "operators.lsh_pairs_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.confirmed_pairs": "count",
    "dedup.confirm_ratio": "ratio",
    "trace.overhead_s": "s",
}

SAMPLE_CAP = 32 << 20  # uncompressed bytes the in-process probes touch


def _best(fn, reps: int = 3) -> float:
    """Fastest of *reps* timed calls: the layer's speed with the least
    interference from the rest of the machine."""
    best = float("inf")
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t)
    return best


def _blocks(files: list[str]) -> list[tuple[str, bytes]]:
    """(codec, uncompressed payload) of the workload's own blocks, up to
    SAMPLE_CAP bytes."""
    from fourmc_spark.format.reader import iter_block_payloads, scan_file_info

    out, total = [], 0
    for p in files:
        codec = scan_file_info(p)[0]
        with open(p, "rb") as f:
            for _off, payload in iter_block_payloads(f, codec):
                out.append((codec, bytes(payload)))
                total += len(payload)
        if total >= SAMPLE_CAP:
            break
    return out


def native_probe(files: list[str]) -> dict:
    from fourmc_spark.format import native
    from fourmc_spark.format.writer import LZ4_LEVELS, ZSTD_LEVELS

    raw = [b for _c, b in _blocks(files)]
    mb = sum(map(len, raw)) / 1e6
    lz4_lvl, zstd_lvl = LZ4_LEVELS["fast"], ZSTD_LEVELS["medium"]
    lz4 = [native.lz4_compress(b, lz4_lvl) or b for b in raw]
    zst = [native.zstd_compress(b, zstd_lvl) or b for b in raw]

    def dec(fn, comp):
        for c, b in zip(comp, raw):
            if c is not b:
                fn(c, len(b))

    return {
        "native.lz4_compress_mbps": mb / _best(lambda: [native.lz4_compress(b, lz4_lvl) for b in raw]),
        "native.zstd_compress_mbps": mb / _best(lambda: [native.zstd_compress(b, zstd_lvl) for b in raw]),
        "native.lz4_decompress_mbps": mb / _best(lambda: dec(native.lz4_decompress, lz4)),
        "native.zstd_decompress_mbps": mb / _best(lambda: dec(native.zstd_decompress, zst)),
        "native.xxh32_mbps": mb / _best(lambda: [native.xxh32(b) for b in raw]),
    }


def format_probe(ctx, files: list[str]) -> dict:
    from fourmc_spark.format import reader
    from fourmc_spark.format.writer import write_file

    # cold footer reads: the first scan_file_info of each path in this process
    t = time.perf_counter()
    for p in files:
        reader.scan_file_info(p)
    footer_us = (time.perf_counter() - t) / len(files) * 1e6

    sample, total = [], 0
    for p in files:
        sample.append(p)
        total += len(reader.decompress_file(p))
        if total >= SAMPLE_CAP:
            break
    mb = total / 1e6

    def lines():
        for p in sample:
            codec, size, _offs = reader.scan_file_info(p)
            with open(p, "rb") as f:
                for _o, _arr in reader.iter_line_batches_for_split(f, codec, 0, size):
                    pass

    body = b"".join(bytes(reader.decompress_file(p)) for p in sample)
    enc = ctx.path("encode-probe.4mc")

    def encode(workers):
        write_file(enc, body, codec="lz4", level="fast", workers=workers)

    out = {
        "format.footer_read_us": footer_us,
        "format.decode_mbps": mb / _best(lambda: [reader.decompress_file(p) for p in sample]),
        "format.lines_mbps": mb / _best(lines),
        "format.encode_mbps_1t": len(body) / 1e6 / _best(lambda: encode(None)),
        "format.encode_mbps_nt": len(body) / 1e6 / _best(lambda: encode(ctx.nproc)),
    }
    os.remove(enc)
    return out


def _reader(options: dict, typed: bool):
    from pyspark.sql.datasource import CaseInsensitiveDict

    from fourmc_spark.sources.datasource import FourMcDataSource

    opts = dict(options)
    if not typed:
        opts.pop("jsonschema", None)
    ds = FourMcDataSource(CaseInsensitiveDict(opts))
    return ds.reader(ds.schema())


def plan_probe(ctx, wl) -> dict:
    """In-process ``pushFilters`` + ``partitions()`` for each of the
    workload's filter sets, twice: "cold" is the first plan of a set,
    "warm" the second, with the planner's footer and sidecar caches as
    the earlier plans left them. Counts are summed over the filter sets."""
    from fourmc_spark.format.reader import scan_file_info
    from fourmc_spark.sources.datasource import _list_files

    opts = wl.read_options()
    cold, warm = 0.0, 0.0
    parts = files = blocks = 0
    kept_bytes = total_bytes = 0
    all_files = _list_files(opts["path"])
    for filters in wl.plan_filters():
        for rep in range(2):
            rd = _reader(opts, typed=True)
            t = time.perf_counter()
            with ctx.tracer.span("datasource.plan", rep=rep):
                list(rd.pushFilters(filters))
                ps = [p for p in rd.partitions() if p.path]
            dt = time.perf_counter() - t
            if rep == 0:
                cold += dt
            else:
                warm += dt
        parts += len(ps)
        files += len({p.path for p in ps})
        for p in ps:
            offs = scan_file_info(p.path)[2]
            blocks += sum(1 for o in offs if p.start <= o < p.end)
            kept_bytes += p.end - p.start
        total_bytes += sum(os.path.getsize(p) for p in all_files)
    n = len(wl.plan_filters())
    return {
        "datasource.plan_s_cold": cold / n,
        "datasource.plan_s_warm": warm / n,
        "datasource.partitions": parts,
        "datasource.files_kept": files,
        "datasource.files_total": len(all_files),
        "datasource.blocks_kept": blocks,
        "datasource.cbytes_kept_ratio": kept_bytes / total_bytes if total_bytes else 0.0,
    }


def read_probe(ctx, wl) -> dict:
    """Drain ``read(partition)`` of an unfiltered plan on this thread."""
    from fourmc_spark.format.reader import decompress_file

    opts = dict(wl.read_options(), path=wl.scan_path())
    rd = _reader(opts, typed=True)
    parts = [p for p in rd.partitions() if p.path]
    mb = 0.0
    for p in {p.path for p in parts}:
        mb += len(decompress_file(p)) / 1e6
    out = {}
    for typed in (False, True):
        rd = _reader(opts, typed)
        rows = 0

        def drain():
            nonlocal rows
            rows = 0
            for p in parts:
                for b in rd.read(p):
                    rows += b.num_rows

        with ctx.tracer.span("datasource.read", typed=typed):
            dt = _best(drain, reps=2)
        kind = "typed" if typed else "raw"
        out[f"datasource.read_mbps_{kind}"] = mb / dt
        out[f"datasource.read_rows_per_s_{kind}"] = rows / dt
    return out


def spark_probe(ctx, wl, floor_dir: str) -> dict:
    """The per-action floor (1-row load + count) and a raw value-mode
    Spark scan of the workload's scan path on nproc."""
    from pyspark.sql import functions as F

    from fourmc_spark.format.reader import decompress_file
    from fourmc_spark.sources.datasource import _list_files

    spark = ctx.spark
    path = wl.scan_path()
    floor = []
    for _ in range(5):
        t = time.perf_counter()
        with ctx.tracer.span("spark.action_floor"):
            spark.read.format("fourmc").load(floor_dir).count()
        floor.append(time.perf_counter() - t)
    floor_s = harness.median(floor)
    mb = sum(len(decompress_file(p)) for p in _list_files(path)) / 1e6
    scan = []
    for _ in range(3):
        t = time.perf_counter()
        with ctx.tracer.span("spark.scan"):
            spark.read.format("fourmc").load(path).select(F.sum(F.length("value"))).collect()
        scan.append(time.perf_counter() - t)
    scan_s = harness.median(scan)
    return {
        "spark.action_floor_s": floor_s,
        "spark.scan_mbps": mb / scan_s,
        "spark.scan_marginal_mbps": mb / (scan_s - floor_s) if scan_s > floor_s else 0.0,
    }


def probe_all(ctx, wl) -> dict:
    from fourmc_spark.sources.datasource import _list_files

    files = _list_files(wl.scan_path())
    out = dict.fromkeys(UNITS, 0.0)
    with ctx.tracer.span("probe.native"):
        out.update(native_probe(files))
    with ctx.tracer.span("probe.format"):
        out.update(format_probe(ctx, files))
    with ctx.tracer.span("probe.plan"):
        out.update(plan_probe(ctx, wl))
    with ctx.tracer.span("probe.read"):
        out.update(read_probe(ctx, wl))
    with ctx.tracer.span("probe.spark"):
        out.update(spark_probe(ctx, wl, ctx.path("floor")))
    return out


def io_table(m: dict) -> list[dict]:
    """The I/O layer table: MB/s per layer and its ratio to the row below
    (native -> format -> datasource.read on 1 thread -> Spark on nproc)."""
    rows = [
        ("spark scan (nproc, raw values)", m["spark.scan_mbps"]),
        ("datasource.read (1 thread, raw)", m["datasource.read_mbps_raw"]),
        ("format lines (1 thread)", m["format.lines_mbps"]),
        ("format decode (1 thread)", m["format.decode_mbps"]),
        ("native lz4 decompress (1 thread)", m["native.lz4_decompress_mbps"]),
    ]
    out = []
    for i, (name, v) in enumerate(rows):
        below = rows[i + 1][1] if i + 1 < len(rows) else None
        out.append({"layer": name, "mbps": v,
                    "ratio_to_below": v / below if below else None})
    return out
