"""Sidecar v2: the ``<data file>.stats.json`` pruning metadata.

This module is the format's only producer and its only specification.
Every writer (the batch and stream sink's ``statsschema`` path,
``analyze_stats``, ``analyze_stats_proto``, ``analyze_bloom``, the
compaction carry) and the planner's loader go through it. It imports
no Spark: the sink runs it in executor tasks, the planner in Spark's
planner worker.

Fields (one JSON object, ``json.dump`` default separators)::

    version       2
    size          the data file's byte size when the sidecar was sealed
    rows          records in the file                      } zone tier
    columns       {col: {"min", "max", "nulls"}} file tier }
    blocks        [{"o": off, "c": {col: [min, max, nulls]}}]
    carried       true when compaction carried the zone tier
    bloom         {col: spec}                              } bloom tier
    bloom_blocks  {"algo", "seed", "bits", "k",            }
                   "fam": {col: fam},
                   "blocks": [{"o": off, "c": {col: b64}}]}

A block key ``o`` is the compressed offset of the block that OWNS the
record: for text, the block in which the line starts (the ``offset``
the scan exposes); for ElephantBird protobuf, the block in which the
record's sync marker starts. Dropping a block removes exactly the
records its stats speak for.

Staleness: a sidecar speaks for its data file only while ``size``
equals the file's current size. The loader ignores a sidecar of any
other size, and one whose structure is malformed; the file is then
scanned unpruned. So whatever rewrites or replaces a data file must
also move or evict its sidecar (``promote``/``evict``): a rewrite that
lands on the same size would otherwise re-adopt stats for other
content.

Values: ints and floats are JSON numbers, strings as-is. Instants
(Spark ``TimestampType``) are epoch microseconds, so a pushed filter
compares them without knowing the session time zone. Naive timestamps
are ISO ``YYYY-MM-DD HH:MM:SS[.ffffff]`` text, dates ``YYYY-MM-DD``.
``min``/``max`` null means the span holds no non-null value.

NaN: Spark orders NaN above every double, so ``x >= 0`` matches a NaN
row. A span holding NaN records ``max`` NaN, and ``min`` NaN when every
non-null value is NaN. Every comparison against NaN is false, so such
a span never range-prunes.

Bloom contract (tag ``algo`` "xxh64-str", ``seed`` 42): a value's
canonical text (``CAST AS STRING``: decimal ints, strings as-is) is
hashed with xxhash64 over its UTF-8 bytes. With h1 the low 32 bits and
h2 the high 32 bits | 1, the value sets the ``k`` positions
(h1 + i*h2) mod ``bits``. Bit p is byte p >> 3, mask 1 << (p & 7); the
bitmap travels base64. ``fam`` is the build-time type family ("int" or
"str"). A probe refuses a foreign tag, a geometry that disagrees with
the bitmap length, or a family other than the read schema's: the
build could have hashed other text for the same data. Nulls set no
bit; equality never matches NULL.

Amend rule (``write``): a producer passes one tier or both. A tier it
does not pass is kept from a same-size sidecar already in place:
``analyze_stats`` keeps the blooms, ``analyze_bloom`` keeps the zone
maps and merges its columns into the blooms already there.

Carry rule (``merge``, raw-block compaction): ``rows`` and ``nulls``
sum; a column enters the merged file tier only when every input
records it with mutually comparable values, and its min/max merge
NaN-greatest. A bloom column carries as the bitwise OR of the inputs'
bitmaps (the bloom of a union) when every input holds it under the
identical contract. The compactor remaps the block entries; a block
bloom tier carries only when every input's header is identical.
"""

from __future__ import annotations

import base64
import datetime
import decimal
import json
import math
import os

from fourmc_spark.format.native import xxh64

STATS_SUFFIX = ".stats.json"
VERSION = 2
BLOOM_ALGO = "xxh64-str"
BLOOM_SEED = 42

_NAN = float("nan")
_EPOCH = datetime.datetime(1970, 1, 1)
_US = datetime.timedelta(microseconds=1)


# ---------------------------------------------------------------------------
# naming and writing
# ---------------------------------------------------------------------------

def path_for(data_path: str) -> str:
    return data_path + STATS_SUFFIX


def _dump(data_path: str, meta: dict) -> None:
    """Atomic seal: readers see the old sidecar or the new, never half."""
    sc = path_for(data_path)
    tmp = sc + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, sc)


def evict(data_path: str) -> None:
    try:
        os.remove(path_for(data_path))
    except FileNotFoundError:
        pass


def promote(staged: str, final: str) -> None:
    """The staged file's sidecar follows it to *final*; a staged file
    without one evicts the sidecar of the file it lands over."""
    try:
        os.replace(path_for(staged), path_for(final))
    except FileNotFoundError:
        evict(final)


def _same_size(data_path: str, size: int) -> dict | None:
    try:
        with open(path_for(data_path)) as f:
            old = json.load(f)
    except (OSError, ValueError):
        return None
    return old if isinstance(old, dict) and old.get("size") == size else None


def write(
    data_path: str,
    rows: int | None = None,
    columns: dict | None = None,
    blocks: list | None = None,
    bloom: dict | None = None,
    bloom_blocks: dict | None = None,
) -> None:
    """Seal *data_path*'s sidecar. The zone tier is ``rows`` +
    ``columns`` (+ ``blocks``); the bloom tier is ``bloom``
    (+ ``bloom_blocks``). A tier passed as None is kept from a
    same-size sidecar (the amend rule); an empty ``bloom`` seals none."""
    size = os.path.getsize(data_path)
    if columns is None:
        meta = _same_size(data_path, size) or {
            "version": VERSION, "size": size,
        }
        old = meta.get("bloom")
        meta["bloom"] = {**(old if isinstance(old, dict) else {}), **bloom}
        if bloom_blocks is not None:
            meta["bloom_blocks"] = bloom_blocks
    else:
        meta = {"version": VERSION, "size": size, "rows": rows,
                "columns": columns}
        if bloom is None:
            old = _same_size(data_path, size) or {}
            for f in ("bloom", "bloom_blocks"):
                if isinstance(old.get(f), dict):
                    meta[f] = old[f]
        else:
            if bloom:
                meta["bloom"] = bloom
            if bloom_blocks:
                meta["bloom_blocks"] = bloom_blocks
        if blocks is not None:
            meta["blocks"] = blocks
    _dump(data_path, meta)


# ---------------------------------------------------------------------------
# loading
# ---------------------------------------------------------------------------

#: parsed-sidecar cache, with the same freshness contract as the
#: footer-index cache in format/reader.scan_file_info: keyed on
#: (sidecar size, sidecar mtime_ns, data size), and every hit also
#: re-reads a small content fingerprint (first and last bytes),
#: because stat() alone is spoofable (cp -p, rsync -t, same-tick
#: rewrites) and a stale zone map could falsely prune. A bloom-fat
#: sidecar costs ~300 µs to parse (the base64 strings dominate
#: json.loads); the fingerprint pread ~10 µs. Unusable sidecars are
#: negative-cached (_STALE) so a rewritten tree does not re-parse every
#: fat sidecar on every plan. Bounded by an atomic clear: 2048 fat
#: sidecars (~200 KB parsed each) top out near 400 MB on the driver.
_SIDECAR_CACHE: dict[str, tuple[tuple, bytes, object]] = {}
_SIDECAR_CACHE_MAX = 2048
_SIDECAR_FP_BYTES = 32
_STALE = object()


def _entries(v, ok) -> bool:
    return isinstance(v, list) and all(
        isinstance(b, dict)
        and type(b.get("o")) is int
        and isinstance(b.get("c"), dict)
        and all(ok(s) for s in b["c"].values())
        for b in v
    )


def _usable(meta, size: int) -> bool:
    """Size match plus the structure every pruning tier walks. Value
    doubts (an odd min/max type, a foreign bloom spec) are left to the
    tiers, which keep the file on any of them."""
    if not isinstance(meta, dict) or meta.get("size") != size:
        return False
    cols = meta.get("columns", {})
    bb = meta.get("bloom_blocks", {})
    return (
        isinstance(cols, dict)
        and all(
            isinstance(s, dict) and "min" in s and "max" in s
            for s in cols.values()
        )
        and _entries(meta.get("blocks", []),
                     lambda s: isinstance(s, list) and len(s) == 3)
        and isinstance(meta.get("bloom", {}), dict)
        and isinstance(bb, dict)
        and _entries(bb.get("blocks", []), lambda s: isinstance(s, str))
    )


def load(data_path: str) -> dict | None:
    """*data_path*'s sidecar, or None when it is missing, unreadable,
    stale (its size is not the file's) or malformed."""
    sc = path_for(data_path)
    try:
        st = os.stat(sc)
        data_size = os.path.getsize(data_path)
    except OSError:
        return None
    key = (st.st_size, st.st_mtime_ns, data_size)
    n = _SIDECAR_FP_BYTES
    hit = _SIDECAR_CACHE.get(data_path)
    if hit is not None and hit[0] == key:
        try:
            with open(sc, "rb") as f:
                head = f.read(n)
                f.seek(max(0, st.st_size - n))
                if head + f.read(n) == hit[1]:
                    return None if hit[2] is _STALE else hit[2]
        except OSError:
            return None
    try:
        with open(sc, "rb") as f:
            raw = f.read()
        meta = json.loads(raw)
    except (OSError, ValueError, RecursionError):
        return None
    if not _usable(meta, data_size):
        meta = _STALE
    if len(_SIDECAR_CACHE) >= _SIDECAR_CACHE_MAX:
        _SIDECAR_CACHE.clear()  # atomic under concurrent planners
    _SIDECAR_CACHE[data_path] = (
        key, raw[:n] + raw[max(0, len(raw) - n):], meta,
    )
    return None if meta is _STALE else meta


# ---------------------------------------------------------------------------
# zone tier
# ---------------------------------------------------------------------------

def _is_nan(v) -> bool:
    return isinstance(v, float) and math.isnan(v)


def json_value(v, instant: bool = False):
    """A stat value as the JSON primitive the sidecar records."""
    if isinstance(v, datetime.datetime):
        if instant:
            return (v.replace(tzinfo=None) - _EPOCH) // _US
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if type(v).__module__ == "numpy":
        return v.item()
    return v


class Span:
    """Zone-map accumulator for one span (a file or a block): rows,
    and per column [min, max, nulls, NaN seen]. NaN never enters
    min/max; it sets the flag, and ``stat`` widens the sealed max (and
    an otherwise empty min) to NaN."""

    __slots__ = ("rows", "cols")

    def __init__(self, cols) -> None:
        self.rows = 0
        self.cols = {c: [None, None, 0, False] for c in cols}

    def add(self, arrays: dict, rows: int) -> None:
        """Fold one batch: column name -> Arrow array of *rows* values."""
        import pyarrow as pa
        import pyarrow.compute as pc

        self.rows += rows
        for c, col in arrays.items():
            n_valid = len(col) - col.null_count
            nan = False
            if n_valid and pa.types.is_floating(col.type):
                # Arrow's min_max skips NaN; count it separately
                n_nan = pc.sum(pc.is_nan(col), min_count=0).as_py() or 0
                nan = n_nan > 0
                n_valid -= n_nan
            mn = mx = None
            if n_valid:
                mm = pc.min_max(col)
                mn, mx = mm["min"].as_py(), mm["max"].as_py()
            self.fold(c, mn, mx, col.null_count, nan)

    def fold(self, c: str, mn, mx, nulls: int, nan: bool = False) -> None:
        """Fold a sub-span already reduced to (min, max, nulls) under
        Spark's ordering, where a NaN max means NaN was seen."""
        st = self.cols[c]
        st[2] += nulls
        if nan or _is_nan(mn) or _is_nan(mx):
            st[3] = True
        if mn is not None and not _is_nan(mn) and (st[0] is None or mn < st[0]):
            st[0] = mn
        if mx is not None and not _is_nan(mx) and (st[1] is None or mx > st[1]):
            st[1] = mx

    def merge(self, other: "Span") -> None:
        self.rows += other.rows
        for c, (mn, mx, nulls, nan) in other.cols.items():
            self.fold(c, mn, mx, nulls, nan)

    def stat(self, c: str, instant: bool = False) -> list:
        """[min, max, nulls] as sealed, JSON-encoded."""
        mn, mx, nulls, nan = self.cols[c]
        mn, mx = json_value(mn, instant), json_value(mx, instant)
        if nan:
            mx = _NAN
            if mn is None:
                mn = _NAN
        return [mn, mx, nulls]

    def columns(self, instants=()) -> dict:
        """The file-tier ``columns`` field."""
        out = {}
        for c in self.cols:
            mn, mx, nulls = self.stat(c, c in instants)
            out[c] = {"min": mn, "max": mx, "nulls": nulls}
        return out

    def block(self, offset: int) -> dict:
        """One ``blocks`` entry."""
        return {"o": offset, "c": {c: self.stat(c) for c in self.cols}}


def _comparable(a, b) -> bool:
    """Same-ordering check for two sidecar values: number vs number,
    str vs str."""
    def num(x):
        return isinstance(x, (int, float)) and not isinstance(x, bool)

    return (num(a) and num(b)) or (isinstance(a, str) and isinstance(b, str))


# ---------------------------------------------------------------------------
# bloom tier
# ---------------------------------------------------------------------------

def bloom_positions(h: int, k: int, bits: int):
    """The one position derivation, shared by every Python builder and
    the probe (analyze_bloom's JVM builder mirrors it as SQL, pinned
    equal by tests)."""
    h1 = h & 0xFFFFFFFF
    h2 = (h >> 32) | 1
    for i in range(k):
        yield (h1 + i * h2) % bits


def text_positions(text: str, k: int, bits: int):
    """Bit positions of one value's canonical text."""
    return bloom_positions(xxh64(text.encode("utf-8"), BLOOM_SEED), k, bits)


def pack_bits(positions, n_bits: int, into=None):
    """OR bit *positions* into a little-bit-order uint8 bitmap (a new
    one of ``n_bits``, or *into* in place) and return it."""
    import numpy as np

    bm = np.zeros(n_bits // 8, dtype=np.uint8) if into is None else into
    if isinstance(positions, np.ndarray):
        p = positions.astype(np.int64, copy=False)
    else:
        p = np.fromiter(positions, dtype=np.int64)
    np.bitwise_or.at(bm, p >> 3, np.left_shift(1, p & 7).astype(np.uint8))
    return bm


def may_contain(bm: bytes, positions) -> bool:
    return all((bm[p >> 3] >> (p & 7)) & 1 for p in positions)


def b64(bitmap) -> str:
    return base64.b64encode(bytes(bitmap)).decode("ascii")


def seal_bloom_spec(bitmap, bits: int, k: int, fam: str) -> dict:
    """One ``bloom`` column spec."""
    return {
        "algo": BLOOM_ALGO,
        "seed": BLOOM_SEED,
        "bits": bits,
        "k": k,
        "fam": fam,
        "b64": b64(bitmap),
    }


def seal_bloom_blocks_header(
    bits: int, k: int, fams: dict, entries: list
) -> dict:
    """The ``bloom_blocks`` field: shared geometry, per-column family,
    per-block per-column base64 bitmaps."""
    return {
        "algo": BLOOM_ALGO,
        "seed": BLOOM_SEED,
        "bits": bits,
        "k": k,
        "fam": dict(fams),
        "blocks": entries,
    }


def validate_bloom_geometry(
    bits: int, k: int, what: str, max_bits: int = 1 << 27
) -> None:
    """Geometry check shared by every bloom builder."""
    if bits % 8 or not 64 <= bits <= max_bits:
        raise ValueError(
            f"{what}: bits must be a multiple of 8 in [64, "
            f"2^{max_bits.bit_length() - 1}], got {bits}"
        )
    if not 1 <= k <= 16:
        raise ValueError(f"{what}: k must be in [1, 16], got {k}")


def _geometry_ok(bits, k) -> bool:
    return (
        type(bits) is int and type(k) is int and bits > 0 and 1 <= k <= 64
    )


def decode_bloom_spec(spec, fam: str):
    """(bitmap, bits, k) when *spec* is a well-formed bloom under this
    contract built for type family *fam*; None on any doubt."""
    if (
        not isinstance(spec, dict)
        or spec.get("algo") != BLOOM_ALGO
        or spec.get("seed") != BLOOM_SEED
        or spec.get("fam") != fam
    ):
        return None
    try:
        bits, k = spec["bits"], spec["k"]
        bm = base64.b64decode(spec["b64"], validate=True)
    except (KeyError, TypeError, ValueError):
        return None
    if not _geometry_ok(bits, k) or len(bm) * 8 != bits:
        return None
    return bm, bits, k


def decode_bloom_blocks(meta: dict):
    """(bits, k, fams, entries) of a well-formed ``bloom_blocks`` tier
    under this contract, or None."""
    bb = meta.get("bloom_blocks")
    if (
        not isinstance(bb, dict)
        or bb.get("algo") != BLOOM_ALGO
        or bb.get("seed") != BLOOM_SEED
    ):
        return None
    bits, k, fams = bb.get("bits"), bb.get("k"), bb.get("fam")
    if not _geometry_ok(bits, k) or bits % 8 or not isinstance(fams, dict):
        return None
    return bits, k, fams, bb.get("blocks") or ()


def decode_bitmap(s, bits: int) -> bytes | None:
    """A block-tier base64 bitmap of exactly *bits*, or None."""
    if not isinstance(s, str):
        return None
    try:
        bm = base64.b64decode(s, validate=True)
    except ValueError:
        return None
    return bm if len(bm) * 8 == bits else None


def bloom_text(v, fam: str) -> str | None:
    """Canonical probe text for *v* under type family *fam*, or None
    when the value's type does not match (absence unprovable)."""
    if fam == "int" and isinstance(v, int) and not isinstance(v, bool):
        return str(v)
    if fam == "str" and isinstance(v, str):
        return v
    return None


# ---------------------------------------------------------------------------
# merging (compaction carry)
# ---------------------------------------------------------------------------

def merge_blooms(metas: list[dict]) -> dict:
    """The carried ``bloom`` field: per column, the OR of every input's
    bitmap when all inputs hold it under the identical contract."""
    all_blooms = [m.get("bloom") for m in metas]
    if not all(isinstance(b, dict) for b in all_blooms):
        return {}
    common = set(all_blooms[0])
    for b in all_blooms[1:]:
        common &= set(b)
    keys = ("algo", "seed", "bits", "k", "fam")
    merged = {}
    for c in sorted(common):
        specs = [b[c] for b in all_blooms]
        head = specs[0]
        if not all(
            isinstance(s, dict) and all(s.get(f) == head.get(f) for f in keys)
            for s in specs
        ):
            continue
        try:
            bms = [base64.b64decode(s["b64"], validate=True) for s in specs]
        except (KeyError, TypeError, ValueError):
            continue
        if any(len(bm) != len(bms[0]) for bm in bms):
            continue
        acc = 0  # big-int OR: C speed whatever the bitmap size
        for bm in bms:
            acc |= int.from_bytes(bm, "little")
        merged[c] = dict(head, b64=b64(acc.to_bytes(len(bms[0]), "little")))
    return merged


def merge(
    data_path: str,
    metas: list[dict],
    block_entries: list[dict],
    bloom_block_entries: list[dict] | None = None,
) -> None:
    """Seal the carried sidecar of compaction output *data_path* from
    its inputs' sidecars *metas* and the remapped block entries."""
    common = set(metas[0].get("columns", {}))
    for m in metas[1:]:
        common &= set(m.get("columns", {}))
    stats = {c: [m["columns"][c] for m in metas] for c in sorted(common)}
    for c, ss in list(stats.items()):
        vals = [v for s in ss for v in (s.get("min"), s.get("max"))
                if v is not None]
        if any(not _comparable(vals[0], v) for v in vals[1:]):
            del stats[c]  # inputs analyzed under different DDLs
    span = Span(stats)
    for c, ss in stats.items():
        for s in ss:
            span.fold(c, s.get("min"), s.get("max"), int(s.get("nulls") or 0))
    meta = {
        "version": VERSION,
        "size": os.path.getsize(data_path),
        "rows": sum(int(m.get("rows") or 0) for m in metas),
        "columns": span.columns(),
        "blocks": block_entries,
        "carried": True,
    }
    blooms = merge_blooms(metas)
    if blooms:
        meta["bloom"] = blooms
    if bloom_block_entries:
        heads = [m.get("bloom_blocks") for m in metas]
        head = heads[0]
        keys = ("algo", "seed", "bits", "k", "fam")
        if (
            isinstance(head, dict)
            and all(f in head for f in keys)
            and all(
                isinstance(h, dict) and all(h.get(f) == head[f] for f in keys)
                for h in heads
            )
        ):
            meta["bloom_blocks"] = dict(
                {f: head[f] for f in keys}, blocks=bloom_block_entries
            )
    _dump(data_path, meta)
