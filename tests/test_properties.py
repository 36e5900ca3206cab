"""Hypothesis property tests for the format core (SURVEY.md §5 plan item 2:
randomized round-trips beyond the fixed vectors — the reference's
TestFourMcCodec.java:27-111 does 100k random KV records; hypothesis
shrinks failures to minimal counterexamples instead).
"""

import io
import os

from hypothesis import given, settings, strategies as st

from fourmc_spark.format import FourMcWriter, compress_bytes, decompress_file
from fourmc_spark.format.writer import ZstWriter


def _decompress_bytes(blob: bytes, tmp_path, name="blob.4mc") -> bytes:
    p = str(tmp_path / name)
    with open(p, "wb") as f:
        f.write(blob)
    try:
        return decompress_file(p)
    finally:
        os.remove(p)


@settings(max_examples=30, deadline=None)
@given(
    data=st.binary(min_size=0, max_size=200_000),
    codec=st.sampled_from(["lz4", "zstd"]),
    block_size=st.integers(min_value=1, max_value=70_000),
)
def test_roundtrip_arbitrary_bytes_and_block_sizes(
    tmp_path_factory, data, codec, block_size
):
    d = tmp_path_factory.mktemp("prop_rt")
    blob = compress_bytes(data, codec=codec, level="fast", block_size=block_size)
    assert _decompress_bytes(blob, d) == data


@settings(max_examples=20, deadline=None)
@given(
    chunks=st.lists(st.binary(min_size=0, max_size=30_000), max_size=12),
    codec=st.sampled_from(["lz4", "zstd"]),
)
def test_chunked_writes_equal_one_shot(tmp_path_factory, chunks, codec):
    # framing must not depend on write() call boundaries (the reference
    # buffers to the block granule regardless of caller chunking,
    # FourMcOutputStream.java:140-182)
    whole = b"".join(chunks)
    one = compress_bytes(whole, codec=codec, level="fast", block_size=4096)
    buf = io.BytesIO()
    with FourMcWriter(buf, codec=codec, level="fast", block_size=4096) as w:
        for c in chunks:
            w.write(c)
    assert buf.getvalue() == one
    d = tmp_path_factory.mktemp("prop_ck")
    assert _decompress_bytes(buf.getvalue(), d) == whole


@settings(max_examples=20, deadline=None)
@given(chunks=st.lists(st.binary(min_size=0, max_size=50_000), max_size=10))
def test_zst_stream_chunking_invariant(chunks):
    from fourmc_spark.format.native import zstd_stream_decompress_chunks

    whole = b"".join(chunks)
    buf = io.BytesIO()
    with ZstWriter(buf, level=1) as w:
        for c in chunks:
            w.write(c)
    out = buf.getvalue()
    assert b"".join(zstd_stream_decompress_chunks([out])) == whole


@settings(max_examples=15, deadline=None)
@given(
    lines=st.lists(
        st.text(
            alphabet=st.characters(blacklist_characters="\r\n",
                                   blacklist_categories=("Cs",)),
            max_size=300,
        ),
        max_size=50,
    ),
    codec=st.sampled_from(["lz4", "zstd"]),
)
def test_line_roundtrip_via_split_reader(tmp_path_factory, lines, codec):
    from fourmc_spark.format import iter_lines_for_split

    d = tmp_path_factory.mktemp("prop_ln")
    ext = ".4mc" if codec == "lz4" else ".4mz"
    p = str(d / f"lines{ext}")
    with open(p, "wb") as f:
        with FourMcWriter(f, codec=codec, level="fast", block_size=8192) as w:
            for ln in lines:
                w.write_line(ln)
    size = os.path.getsize(p)
    with open(p, "rb") as f:
        got = [ln.decode("utf-8")
               for _, ln in iter_lines_for_split(f, codec, 0, size)]
    assert got == lines


@settings(max_examples=40, deadline=None)
@given(
    data=st.binary(min_size=1, max_size=30_000),
    codec=st.sampled_from(["lz4", "zstd"]),
    pos_seed=st.integers(min_value=0, max_value=10**9),
    delta=st.integers(min_value=1, max_value=255),
)
def test_any_single_byte_flip_is_detected(
    tmp_path_factory, data, codec, pos_seed, delta
):
    """Every byte of the container is covered by a check: header checksum,
    per-block xxh32, footer checksum, EOS marker, or the block-header vs
    footer-extent cross-check — so ANY single-byte corruption must raise
    (mirrors FourMcInputStream.java:143-151,200-228,320-326)."""
    import pytest

    from fourmc_spark.format.core import FourMcFormatError

    blob = bytearray(compress_bytes(data, codec=codec, block_size=8192))
    pos = pos_seed % len(blob)
    blob[pos] = blob[pos] ^ delta
    tmp = tmp_path_factory.mktemp("flip")
    with pytest.raises(FourMcFormatError):
        _decompress_bytes(bytes(blob), tmp)


@settings(max_examples=30, deadline=None)
@given(
    data=st.binary(min_size=1, max_size=30_000),
    codec=st.sampled_from(["lz4", "zstd"]),
    cut_seed=st.integers(min_value=0, max_value=10**9),
)
def test_any_truncation_is_detected(tmp_path_factory, data, codec, cut_seed):
    """A prefix of a sealed file is never silently accepted — the footer
    (and its tail checksum) live at EOF."""
    import pytest

    from fourmc_spark.format.core import FourMcFormatError

    blob = compress_bytes(data, codec=codec, block_size=8192)
    cut = cut_seed % (len(blob) - 1)  # strictly shorter, possibly empty
    tmp = tmp_path_factory.mktemp("trunc")
    with pytest.raises(FourMcFormatError):
        _decompress_bytes(blob[:cut], tmp)


# ---------------------------------------------------------------- round 2
# Property coverage for the round-2 decoders: imaging (PPM/PGM/BMP),
# av (WAV/Y4M), and the Hadoop block-codec container.

import numpy as np
from hypothesis import HealthCheck
from hypothesis.extra.numpy import arrays as np_arrays


@settings(max_examples=30, deadline=None)
@given(
    arr=np_arrays(
        dtype=np.uint8,
        shape=st.tuples(
            st.integers(1, 24), st.integers(1, 24), st.just(3)
        ),
    ),
    fmt=st.sampled_from(["ppm", "bmp"]),
)
def test_image_roundtrip_arbitrary_pixels(arr, fmt):
    from fourmc_spark.operators import imaging

    enc = imaging.encode_ppm(arr) if fmt == "ppm" else imaging.encode_bmp(arr)
    assert np.array_equal(imaging.decode_image(enc), arr)


@settings(max_examples=30, deadline=None)
@given(
    n=st.integers(1, 2000),
    ch=st.integers(1, 4),
    rate=st.integers(1, 192_000),
    seed=st.integers(0, 2**31),
)
def test_wav_roundtrip_arbitrary_audio(n, ch, rate, seed):
    from fourmc_spark.operators import av

    rng = np.random.default_rng(seed)
    a = rng.integers(-32768, 32768, size=(n, ch)).astype(np.int16)
    back, r = av.decode_wav(av.encode_wav(a, rate))
    assert r == rate and np.array_equal(back, a)


@settings(max_examples=25, deadline=None)
@given(
    w2=st.integers(1, 16),
    h2=st.integers(1, 12),
    nf=st.integers(1, 6),
    seed=st.integers(0, 2**31),
)
def test_y4m_roundtrip_arbitrary_frames(w2, h2, nf, seed):
    from fourmc_spark.operators import av

    rng = np.random.default_rng(seed)
    frames = [
        rng.integers(0, 256, size=(h2 * 2, w2 * 2)).astype(np.uint8)
        for _ in range(nf)
    ]
    got = list(av.iter_y4m_frames(av.encode_y4m(frames)))
    assert len(got) == nf
    for (idx, luma), want in zip(got, frames):
        assert np.array_equal(luma, want)


@settings(max_examples=25, deadline=None)
@given(
    data=st.binary(min_size=0, max_size=120_000),
    ext=st.sampled_from(
        ["lz4_fast", "lz4_hc", "zstd_fast", "zstd_mc", "zstd_uc"]
    ),
    block=st.integers(1, 50_000),
)
def test_hadoop_container_roundtrip_arbitrary_bytes(
    tmp_path_factory, data, ext, block
):
    from fourmc_spark.format.hadoop_stream import (
        HADOOP_EXTS, read_hadoop_file, write_hadoop_file,
    )

    codec, level = HADOOP_EXTS[ext]
    d = tmp_path_factory.mktemp("prop_hadoop")
    p = str(d / f"x.{ext}")
    write_hadoop_file(p, data, codec, level, block_size=block)
    assert read_hadoop_file(p) == data


# NOTE: no corruption property for the Hadoop container — unlike 4mc it
# carries no checksums, and a bit flip in e.g. a zstd frame-header window
# byte can legally decode to identical bytes; integrity there is the
# transport's job (the reference makes the same trade for intermediate
# data). 4mc corruption properties above stay strict.


@given(
    vals=st.lists(
        st.one_of(
            st.integers(min_value=-(10**12), max_value=10**12),
            st.floats(allow_nan=False, allow_infinity=False, width=64),
        ),
        min_size=1,
        max_size=20,
    ),
    lo=st.one_of(st.none(), st.integers(-(10**12), 10**12)),
    lo_inc=st.booleans(),
    hi=st.one_of(st.none(), st.integers(-(10**12), 10**12)),
    hi_inc=st.booleans(),
)
@settings(max_examples=300, deadline=None)
def test_zone_range_exclusion_is_sound(vals, lo, lo_inc, hi, hi_inc):
    """_range_excluded may only say True when NO value in the span can
    satisfy the bound conjunction — a false exclusion is silent row
    loss, the one failure the zone tier must never have."""
    from fourmc_spark.sources.datasource import _range_excluded

    mn, mx = min(vals), max(vals)
    bound = (lo, lo_inc, hi, hi_inc)

    def matches(v):
        if lo is not None and (v < lo or (v == lo and not lo_inc)):
            return False
        if hi is not None and (v > hi or (v == hi and not hi_inc)):
            return False
        return True

    if _range_excluded(mn, mx, bound):
        assert not any(matches(v) for v in vals)


@given(
    sets=st.lists(
        st.lists(st.integers(0, 10**6), min_size=0, max_size=15),
        min_size=2,
        max_size=4,
    ),
)
@settings(max_examples=200, deadline=None)
def test_bloom_carry_or_merge_preserves_membership(sets):
    """Compaction's bloom carry is the bitwise OR of the input bitmaps:
    every value sealed into ANY input must still probe as present in
    the merged output (a lost bit would silently drop rows after
    compaction)."""
    import base64

    from fourmc_spark.format.native import xxh64
    from fourmc_spark.format.sidecar import (
        BLOOM_SEED, bloom_positions, seal_bloom_spec,
    )
    from fourmc_spark.format.sidecar import (
        merge_blooms as _merge_carried_blooms,
    )
    from fourmc_spark.sources.datasource import _bloom_file_pruned

    bits, k = 1 << 10, 3
    metas = []
    for vals in sets:
        bm = bytearray(bits // 8)
        for v in vals:
            h = xxh64(str(v).encode(), BLOOM_SEED)
            for p in bloom_positions(h, k, bits):
                bm[p >> 3] |= 1 << (p & 7)
        metas.append(
            {"bloom": {"c": seal_bloom_spec(bytes(bm), bits, k, "int")}}
        )
    merged = _merge_carried_blooms(metas)
    meta = {"bloom": merged}
    for vals in sets:
        for v in vals:
            assert not _bloom_file_pruned(meta, {"c": {v}}, {"c": "int"})


@given(v=st.text(min_size=1, max_size=12))
@settings(max_examples=300, deadline=None)
def test_next_prefix_is_exclusive_upper_bound(v):
    """next_prefix(v), when it exists, is strictly greater than every
    string that starts with v — the soundness of the StartsWith zone
    relaxation (a too-small bound would prune matching files)."""
    from fourmc_spark.sources.datasource import _next_prefix

    hi = _next_prefix(v)
    if hi is None:
        return
    for suffix in ("", "a", "\x00", "\U0010ffff" * 2, v):
        assert v + suffix < hi
    assert v < hi


# ---------------------------------------------------------------------------
# fail-closed sidecar loading: a hostile sidecar that still matches the
# file size may only cost pruning, never a row
# ---------------------------------------------------------------------------

_FC_DDL = "k bigint, name string, v double"
_FC_LINE = 64  # fixed line width: blocks of 10 lines own exactly those


def _fc_rows() -> list[tuple]:
    rows = []
    for i in range(40):
        k = None if i in (3, 5) else i * 7919 - 150_000
        name = None if i % 7 == 2 else f"n{i % 6}"
        v = float("nan") if i == 17 else (None if i % 8 == 5 else i / 4)
        rows.append((k, name, v))
    return rows


_FC_STATE: dict = {}


def _fc_fixture(tmp_path_factory):
    """One 4-block NDJSON file and the valid sidecar of it (zone maps,
    blocks, and both bloom tiers), built once."""
    if _FC_STATE:
        return _FC_STATE
    import json

    import pyarrow as pa

    from fourmc_spark.format import sidecar
    from fourmc_spark.format.reader import scan_file_info
    from fourmc_spark.format.writer import write_file

    d = str(tmp_path_factory.mktemp("failclosed"))
    path = os.path.join(d, "a.4mz")
    rows = _fc_rows()
    lines = b"".join(
        json.dumps(dict(zip(("k", "name", "v"), r))).ljust(_FC_LINE - 1)
        .encode() + b"\n"
        for r in rows
    )
    write_file(path, lines, codec="zstd", block_size=10 * _FC_LINE)
    offsets = scan_file_info(path)[2]
    assert len(offsets) == 4
    types = {"k": pa.int64(), "name": pa.string(), "v": pa.float64()}
    bits, k = 1024, 3
    file_span, spans, blooms = sidecar.Span(types), [], {}
    block_pos: list[dict] = []
    for b, off in enumerate(offsets):
        own = rows[b * 10:(b + 1) * 10]
        span = sidecar.Span(types)
        span.add({c: pa.array([r[i] for r in own], t)
                  for i, (c, t) in enumerate(types.items())}, len(own))
        file_span.merge(span)
        spans.append(span.block(off))
        block_pos.append({})
        for i, c in ((0, "k"), (1, "name")):
            pos = {p for r in own if r[i] is not None
                   for p in sidecar.text_positions(str(r[i]), k, bits)}
            block_pos[-1][c] = pos
            blooms.setdefault(c, set()).update(pos)
    fams = {"k": "int", "name": "str"}
    sidecar.write(
        path, rows=len(rows), columns=file_span.columns(), blocks=spans,
        bloom={c: sidecar.seal_bloom_spec(sidecar.pack_bits(p, bits), bits,
                                          k, fams[c])
               for c, p in blooms.items()},
        bloom_blocks=sidecar.seal_bloom_blocks_header(bits, k, fams, [
            {"o": off, "c": {c: sidecar.b64(sidecar.pack_bits(p, bits))
                             for c, p in block_pos[b].items()}}
            for b, off in enumerate(offsets)
        ]),
    )
    with open(sidecar.path_for(path)) as f:
        valid = json.load(f)
    _FC_STATE.update(dir=d, path=path, offsets=offsets, rows=rows,
                     valid=valid)
    return _FC_STATE


def _fc_kept_blocks(state, meta, filters) -> set:
    """Block offsets the planner keeps under *meta* as the sidecar."""
    import json

    from pyspark.sql.datasource import CaseInsensitiveDict

    from fourmc_spark.format import sidecar
    from fourmc_spark.format.core import HEADER_SIZE
    from fourmc_spark.sources.datasource import (
        FourMcDataSourceReader, _parse_flat_ddl,
    )

    with open(sidecar.path_for(state["path"]), "w") as f:
        json.dump(meta, f)
    sidecar._SIDECAR_CACHE.clear()  # same-tick rewrites: never serve stale
    rd = FourMcDataSourceReader(
        CaseInsensitiveDict({"path": state["dir"], "jsonschema": _FC_DDL}),
        _parse_flat_ddl(_FC_DDL),
    )
    list(rd.pushFilters(filters))
    parts = [p for p in rd.partitions() if p.path]
    return {
        o for o in state["offsets"]
        if any(p.start <= max(o, HEADER_SIZE) < p.end for p in parts)
    }


def _fc_probes(row) -> list[list]:
    """Pushed-filter conjunctions that the row satisfies."""
    from pyspark.sql.datasource import (
        EqualTo, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull,
        LessThan, LessThanOrEqual, StringStartsWith,
    )

    k, name, v = row
    out = []
    if k is None:
        out.append([IsNull(("k",))])
    else:
        out += [[EqualTo(("k",), k)], [In(("k",), (k, 1))],
                [GreaterThanOrEqual(("k",), k), LessThanOrEqual(("k",), k)],
                [GreaterThan(("k",), k - 1)], [LessThan(("k",), k + 1)]]
    if name is None:
        out.append([IsNull(("name",))])
    else:
        out += [[EqualTo(("name",), name)],
                [StringStartsWith(("name",), name[:1])]]
    if v is None:
        out.append([IsNull(("v",))])
    else:
        # Spark orders NaN above every double: it satisfies v >= 0
        out += [[IsNotNull(("v",))],
                [GreaterThanOrEqual(("v",), 0.0 if v != v else v)]]
    return out


def _jtype(x) -> str:
    if isinstance(x, bool):
        return "bool"
    if isinstance(x, (int, float)):
        return "num"
    return {str: "str", type(None): "null", list: "list",
            dict: "dict"}[type(x)]


def _nodes(x, path=()):
    yield path
    if isinstance(x, dict):
        for key, v in x.items():
            yield from _nodes(v, path + (key,))
    elif isinstance(x, list):
        for i, v in enumerate(x):
            yield from _nodes(v, path + (i,))


#: one value of every JSON type: a mutation swaps a node for one whose
#: type differs from the node's own
_WRONG = [None, False, True, "", "7", 0, 1.5, [], {}]


@st.composite
def _hostile(draw, valid):
    """One type-breaking mutation of the valid sidecar: a node replaced
    by a value of another JSON type, a node deleted, the whole document
    replaced, or a bloom spec given a wrong bitmap length, family or k.
    Same-type value edits are excluded: those make a lying sidecar, not
    a malformed one."""
    import copy

    meta = copy.deepcopy(valid)
    # "stat" is "replace" on a min/max/nulls value, drawn more often
    kind = draw(st.sampled_from(
        ["stat", "stat", "replace", "delete", "top", "bloom"]
    ))
    if kind == "top":
        return draw(st.sampled_from([w for w in _WRONG
                                     if not isinstance(w, dict)]))
    if kind == "bloom":
        where = draw(st.sampled_from(["k", "name", "blocks"]))
        spec = (meta["bloom_blocks"] if where == "blocks"
                else meta["bloom"][where])
        fault = draw(st.sampled_from(["length", "fam", "k"]))
        if fault == "length":
            spec["bits"] += draw(st.sampled_from([-16, -8, 8, 64]))
        elif fault == "fam":
            if where == "blocks":
                spec["fam"]["k"] = "str"
            else:
                spec["fam"] = {"int": "str", "str": "int"}[spec["fam"]]
        else:
            spec["k"] = draw(st.sampled_from([0, -1, 65, 1.5, "3", True,
                                              None]))
        return meta
    paths = [p for p in _nodes(meta) if p]
    if kind == "stat":
        paths = [p for p in paths if (p[0], len(p)) in
                 (("columns", 3), ("blocks", 5))]
    path = draw(st.sampled_from(paths))
    parent = meta
    for key in path[:-1]:
        parent = parent[key]
    if kind == "delete":
        del parent[path[-1]]
    else:
        old = _jtype(parent[path[-1]])
        parent[path[-1]] = draw(
            st.sampled_from([w for w in _WRONG if _jtype(w) != old])
        )
    return meta


@given(data=st.data())
@settings(max_examples=200, deadline=None)
def test_hostile_sidecar_keeps_matching_blocks(tmp_path_factory, data):
    """A sidecar that matches the file's size but is malformed, carries
    min/max of the wrong type, or a bloom spec with the wrong bitmap
    length, family or k: the planner still keeps every block owning a
    row that satisfies the pushed filters."""
    state = _fc_fixture(tmp_path_factory)
    meta = data.draw(_hostile(state["valid"]))
    for i, row in enumerate(state["rows"]):
        for filters in _fc_probes(row):
            assert state["offsets"][i // 10] in _fc_kept_blocks(
                state, meta, filters
            ), (row, filters)


def test_valid_fixture_sidecar_prunes(tmp_path_factory):
    """The fail-closed property has teeth: under the valid sidecar each
    tier prunes an absent value, and no probe of a real row loses its
    block."""
    from pyspark.sql.datasource import EqualTo, GreaterThan, IsNull

    state = _fc_fixture(tmp_path_factory)
    valid = state["valid"]
    assert _fc_kept_blocks(state, valid, [EqualTo(("k",), 7)]) == set()
    assert _fc_kept_blocks(state, valid, [GreaterThan(("k",), 10**9)]) == set()
    assert len(_fc_kept_blocks(
        state, valid, [GreaterThan(("k",), 100_000)])) == 1
    assert len(_fc_kept_blocks(state, valid, [IsNull(("k",))])) < 4
    assert _fc_kept_blocks(state, valid, [EqualTo(("name",), "zz")]) == set()
    for i, row in enumerate(state["rows"]):
        for filters in _fc_probes(row):
            assert state["offsets"][i // 10] in _fc_kept_blocks(
                state, valid, filters
            ), (row, filters)
