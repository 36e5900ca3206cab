"""Pins for the r11 deterministic range partitioner behind the
lifecycle fixture writes (queries._range_partition_fixture): the
sampling-free replacement for repartitionByRange must (a) agree with
Spark's own Murmur3 hash — the probe-value trick routes buckets to
partitions through HashPartitioning, so silent hash drift against a
future Spark would quietly degrade fixture layout — and (b) actually
produce the range-disjoint n-partition layout the zone-map demos rely
on. Results are layout-invariant either way (oracle-pinned); these
tests keep the LAYOUT claim honest.

The lifecycle harness's own proofs are pinned here too: the compaction
step refuses a carry that dropped sidecars, and a planted poison file is
skipped only by pruning, so every lifecycle query that plants one
proves its pruning tier inside the gate."""

import pytest

from pyspark.sql import functions as F


def test_murmur3_hash_long_matches_spark(spark):
    from fourmc_spark.queries import _murmur3_hash_long

    vals = [0, 1, 2, 5, 42, -1, -7, 2**33, -(2**40), 2**62, -(2**62)]
    got = spark.createDataFrame(
        [(v,) for v in vals], "v long"
    ).select(F.hash("v").alias("h")).collect()
    for v, row in zip(vals, got):
        assert _murmur3_hash_long(v) == row["h"], v


def test_partition_probe_values_cover_all_classes(spark):
    from fourmc_spark.queries import _partition_probe_values

    for n in (2, 3, 6, 8):
        probes = _partition_probe_values(n)
        assert len(probes) == n
        # each probe must land in its own pmod class under SPARK's hash
        classes = [
            r["p"]
            for r in spark.createDataFrame(
                [(p,) for p in probes], "v long"
            ).select(F.pmod(F.hash("v"), F.lit(n)).alias("p")).collect()
        ]
        assert sorted(classes) == list(range(n))


def test_det_range_shuffle_is_range_disjoint(spark):
    from fourmc_spark.queries import _det_range_shuffle

    df = spark.range(0, 1000).select(F.col("id").alias("k"))
    parts = (
        _det_range_shuffle(df, 6, F.col("k"), 0, 999)
        .select("k", F.spark_partition_id().alias("p"))
        .groupBy("p")
        .agg(F.min("k").alias("lo"), F.max("k").alias("hi"),
             F.count("*").alias("n"))
        .collect()
    )
    assert len(parts) == 6
    assert sum(r["n"] for r in parts) == 1000
    spans = sorted((r["lo"], r["hi"]) for r in parts)
    for (alo, ahi), (blo, bhi) in zip(spans, spans[1:]):
        assert ahi < blo  # disjoint, contiguous ranges
    # deterministic: same input -> same per-partition spans, twice
    again = sorted(
        (r["lo"], r["hi"])
        for r in _det_range_shuffle(df, 6, F.col("k"), 0, 999)
        .select("k", F.spark_partition_id().alias("p"))
        .groupBy("p")
        .agg(F.min("k").alias("lo"), F.max("k").alias("hi"))
        .collect()
    )
    assert again == spans
    # a span above 2^53: keys either side of every bucket boundary land
    # in their exact integer bucket, so the ranges stay disjoint
    n, lo, hi = 3, 0, 2**54
    span = hi - lo + 1
    edges = [-(-b * span // n) for b in range(1, n)]
    keys = sorted({lo, hi} | {e + d for e in edges for d in (-1, 0)})
    got = {
        r["k"]: r["p"]
        for r in _det_range_shuffle(
            spark.createDataFrame([(k,) for k in keys], "k long"),
            n, F.col("k"), lo, hi,
        ).select("k", F.spark_partition_id().alias("p")).collect()
    }
    assert got == {k: (k - lo) * n // span for k in keys}


def test_parquet_col_minmax_reads_footer(tmp_path, spark, sf_dir):
    from fourmc_spark.queries import _parquet_col_minmax

    got = _parquet_col_minmax(f"{sf_dir}/events.parquet", "event_id")
    assert got is not None
    lo, hi = got
    real = spark.read.parquet(f"{sf_dir}/events.parquet").agg(
        F.min("event_id"), F.max("event_id")
    ).first()
    assert (lo, hi) == (real[0], real[1])
    # timestamp column comes back as epoch micros
    ts = _parquet_col_minmax(f"{sf_dir}/events.parquet", "ts")
    if ts is not None:  # nanos-era fixtures store int64 (also ints: ok)
        assert isinstance(ts[0], int) and ts[0] <= ts[1]
    # unknown column / bad path fall back safely
    assert _parquet_col_minmax(f"{sf_dir}/events.parquet", "nope") is None
    assert _parquet_col_minmax(str(tmp_path / "missing.parquet"), "x") is None


def test_parquet_col_minmax_non_int_stats_fall_back(tmp_path):
    """Float and string statistics over several row groups are out of
    scope: None (the sampled fallback), never a TypeError."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fourmc_spark.queries import _parquet_col_minmax

    p = str(tmp_path / "multi_rg.parquet")
    pq.write_table(
        pa.table({
            "i": list(range(100)),
            "f": [x / 4 for x in range(100)],
            "s": [f"s{x:03d}" for x in range(100)],
        }),
        p, row_group_size=25,
    )
    assert pq.ParquetFile(p).metadata.num_row_groups == 4
    assert _parquet_col_minmax(p, "f") is None
    assert _parquet_col_minmax(p, "s") is None
    assert _parquet_col_minmax(p, "i") == (0, 99)


def test_range_partition_fixture_falls_back_without_stats(spark, tmp_path):
    """Bounds unavailable -> the sampled repartitionByRange path, which
    still yields a correct (just sampled) range layout."""
    from fourmc_spark.queries import _range_partition_fixture

    df = spark.range(0, 100).select(F.col("id").alias("k"))
    out = _range_partition_fixture(
        df, 4, "k", str(tmp_path / "does-not-exist.parquet")
    )
    assert out.count() == 100


def _fake_compaction(monkeypatch, outputs, carried):
    from fourmc_spark.operators import maintenance

    monkeypatch.setattr(
        maintenance, "compact_blocks",
        lambda *a, **k: {"outputs": outputs, "stats_carried": carried},
    )


def test_compact_raises_when_a_sealed_output_is_uncarried(
    tmp_path, monkeypatch
):
    """An explicit raise, not an assert: under ``python -O`` the check
    must still fail a compaction that dropped a carried sidecar."""
    from fourmc_spark.format.sidecar import path_for
    from fourmc_spark.queries import _compact

    src, out = tmp_path / "staged", str(tmp_path / "compact")
    src.mkdir()
    for i in range(3):
        part = src / f"part-{i}.4mz"
        part.write_bytes(b"x" * 64)
        open(path_for(str(part)), "w").write("{}")
    _fake_compaction(monkeypatch, outputs=2, carried=1)
    with pytest.raises(RuntimeError, match="sidecars"):
        _compact(None, str(src), out, parts=2)
    _fake_compaction(monkeypatch, outputs=2, carried=2)
    assert _compact(None, str(src), out, parts=2) == out


def test_compact_of_unsealed_inputs_needs_no_carry(tmp_path, monkeypatch):
    from fourmc_spark.queries import _compact

    src = tmp_path / "staged"
    src.mkdir()
    (src / "part-0.4mz").write_bytes(b"x" * 64)
    _fake_compaction(monkeypatch, outputs=1, carried=0)
    out = str(tmp_path / "compact")
    assert _compact(None, str(src), out, parts=3) == out


@pytest.mark.parametrize("poison, pruned, keep, unprunable", [
    ({"zone": {"event_id": {"min": 10**9, "max": 2 * 10**9, "nulls": 0}}},
     "event_id BETWEEN 10 AND 30", lambda i: 10 <= i <= 30,
     "event_id >= 1500000000"),
    ({"bloom": ["event_id"]},
     "event_id IN (3, 17, 29)", lambda i: i in (3, 17, 29),
     "event_id > 0"),
], ids=["zone", "bloom"])
def test_poison_is_skipped_only_by_pruning(
    spark, tmp_path, poison, pruned, keep, unprunable
):
    """The poison is unreadable and sits where the read looks: a read
    whose predicate its sidecar cannot exclude raises, and the pruning
    read returns exactly the real rows."""
    from fourmc_spark.queries import _EV_DDL, _NDJSON, _plant_poison, _write

    rows = [(i, i % 7, ("click", "view")[i % 2], i / 4) for i in range(1, 41)]
    d = str(tmp_path / "tree")
    _write(
        _NDJSON.encode(spark.createDataFrame(rows, _EV_DDL).repartition(2)), d
    )
    _plant_poison(d, **poison)

    def read(where):
        # a fresh relation per read: one pushed filter per relation
        return (
            spark.read.format("fourmc").option("jsonschema", _EV_DDL)
            .load(d).where(where)
        )

    got = [tuple(r) for r in read(pruned).orderBy("event_id").collect()]
    assert got == [r for r in rows if keep(r[0])]
    with pytest.raises(Exception, match="(?i)header|magic"):
        read(unprunable).collect()
