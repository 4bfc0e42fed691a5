"""Per-file row-key Bloom filters — the HBase ``BLOOMFILTER => 'ROW'``
column-family attribute rebuilt for the generational parquet layout.

HBase writes a Bloom filter block into every HFile so a point ``Get``
can skip store files whose key range covers the key but which do not
contain it (the reference's scans ride that RegionServer-side check
implicitly; the attribute itself is standard HBase DDL, default ROW).
The keyed store's analogue: each data file of a generation gets a
sidecar ``_bloom/<file>.bf`` holding a classic Bloom filter over the
file's ``row_key`` values.  Point reads (:meth:`KeyedTableStore.get`,
and ``EqualTo``/``In`` row-key filters in the ``keyedtable``
DataSource's planning) consult the sidecars AFTER span pruning: a file
whose key span contains the probe key but whose Bloom filter rejects it
is skipped without opening the file.

Why this matters at 100 TB: a long-lived table accumulates appended
sorted runs whose key spans overlap (each append covers the whole key
space), so span pruning alone degrades toward "every run is a
candidate" — exactly the HFile-count problem HBase blooms exist for.
With ~10 bits/key (1% false positives) a point get touches ~1 file
regardless of run count, and the probe cost is a handful of tiny
sidecar reads for the span-surviving files only.

Design points:

- **Strictly a cache.** A missing, malformed, or truncated sidecar
  makes the file a candidate — soundness never depends on the Bloom
  filter existing.  Bloom filters can prune a file only toward FEWER
  reads, never hide a row: no false negatives by construction (the
  classic Bloom guarantee), property-tested.
- **Immutable files, immutable blooms.** Generations never rewrite a
  file in place, so a ``.bf`` is write-once; hardlink carries reuse the
  source generation's sidecar by name exactly like span-manifest
  entries (same inode ⇒ same content).
- **Built distributively.** The builder is a two-stage Spark job over
  ONLY the files needing filters: ``mapInPandas`` folds each input
  partition into per-file PARTIAL bitmaps (Arrow-batched, row-local),
  then a ``groupBy(file)`` ORs the partials and writes the sidecar from
  the aggregating task — the shuffle carries bitmaps (partitions ×
  m/8 bytes), never keys, and the driver never materializes a bitmap.
- **Typed keys.** str keys hash their UTF-8 bytes, integral keys their
  canonical decimal string, binary keys their raw bytes — identical
  encoding on the build (executor) and probe (driver) sides.  Other
  key types disable the feature for the table (never a wrong prune).

Format of ``<file>.bf``: ``b"KBF1"`` magic, little-endian ``u32 k``,
``u64 m`` (bit count), then ``ceil(m/8)`` bitmap bytes.  Hashing is
double hashing over one 128-bit BLAKE2b digest — g_i = (h1 + i*h2)
mod m (Kirsch & Mitzenmacher 2006, "Less Hashing, Same Performance").
"""

from __future__ import annotations

import hashlib
import math
import os
import struct
import uuid

BLOOM_DIR = "_bloom"
# sidecars over the covered-index `i:src_key` PAYLOAD column (always
# declared string), probed by incremental index maintenance to prune
# its locate to the files actually holding a changed source key —
# without them the locate scans O(index) per DML because the index is
# sorted by VALUE, so one source key's entries can land anywhere
SRCKEY_DIR = "_bloom-srckey"
DEFAULT_FPP = 0.01
_MAGIC = b"KBF1"
_HEADER = struct.Struct("<4sIQ")
# per-file bitmap ceiling (bits): 2^27 = 16 MiB covers ~14M keys at 1%
# FPP; a larger file keeps a saturated (useless but sound) filter
# rather than an unbounded sidecar
_MAX_BITS = 1 << 27

# key types (TableSpec.key_type, lowercased) the filter supports —
# must stay in lockstep with _encode_key
SUPPORTED_KEY_TYPES = frozenset(
    {
        "string", "varchar", "char",
        "int", "integer", "long", "bigint",
        "short", "smallint", "byte", "tinyint",
        "binary",
    }
)


def supports_key_type(key_type: str) -> bool:
    base = key_type.strip().lower().split("(")[0]
    return base in SUPPORTED_KEY_TYPES


def params_for(n_rows: int, fpp: float = DEFAULT_FPP) -> tuple[int, int]:
    """Classic sizing: ``m = -n·ln(p)/ln(2)²`` bits, ``k = m/n·ln(2)``
    hashes, clamped to sane bounds."""
    n = max(int(n_rows), 1)
    p = min(max(float(fpp), 1e-6), 0.5)
    m = int(math.ceil(-n * math.log(p) / (math.log(2) ** 2)))
    m = max(64, min(m, _MAX_BITS))
    k = max(1, min(16, round(m / n * math.log(2))))
    return m, k


def encode_key(v) -> bytes | None:
    """Canonical hash bytes of one row_key value; ``None`` = unhashable
    (unsupported type or NULL) — callers must treat the file as a
    candidate rather than guess."""
    if v is None:
        return None
    if isinstance(v, str):
        return v.encode("utf-8")
    if isinstance(v, bytes):
        return v
    if isinstance(v, bool):  # bool is an int subclass — never a key
        return None
    if isinstance(v, int):
        return b"%d" % v
    # numpy integral scalars (pandas int64 columns) — duck-typed so the
    # executor-side builder needs no numpy import here
    if type(v).__module__ == "numpy" and hasattr(v, "item"):
        item = v.item()
        if isinstance(item, int) and not isinstance(item, bool):
            return b"%d" % item
    return None


def positions(data: bytes, m: int, k: int) -> list[int]:
    d = hashlib.blake2b(data, digest_size=16).digest()
    h1 = int.from_bytes(d[:8], "little")
    h2 = int.from_bytes(d[8:], "little") | 1  # odd ⇒ full-period stride
    return [(h1 + i * h2) % m for i in range(k)]


def set_key(bitmap: bytearray, data: bytes, m: int, k: int) -> None:
    for pos in positions(data, m, k):
        bitmap[pos >> 3] |= 1 << (pos & 7)


def add_keys(bitmap: bytearray, values, m: int, k: int) -> None:
    """Set every hashable value of ``values`` (raw row-key values; NULL
    and unsupported ones skipped, as :func:`encode_key` says) into
    ``bitmap`` in place — the bits :func:`set_key` sets, computed for
    the whole batch at once.  Only the digest is per key; positions are
    ``(h1 % m + i·(h2 % m)) % m`` in uint64, equal to ``(h1 + i·h2) % m``
    and exact while ``m ≤ 2^27`` and ``k ≤ 16`` (:func:`params_for`)."""
    import numpy as np

    digests = b"".join(
        hashlib.blake2b(d, digest_size=16).digest()
        for d in map(encode_key, values)
        if d is not None
    )
    if not digests:
        return
    h = np.frombuffer(digests, dtype="<u8").reshape(-1, 2)
    mm = np.uint64(m)
    h1 = h[:, 0] % mm
    h2 = (h[:, 1] | np.uint64(1)) % mm
    pos = (h1[:, None] + np.arange(k, dtype=np.uint64) * h2[:, None]) % mm
    pos = pos.ravel()
    np.bitwise_or.at(
        np.frombuffer(bitmap, dtype=np.uint8),
        pos >> np.uint64(3),
        (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)),
    )


def maybe_contains(bitmap: bytes, m: int, k: int, data: bytes) -> bool:
    for pos in positions(data, m, k):
        if not (bitmap[pos >> 3] >> (pos & 7)) & 1:
            return False
    return True


def pack(m: int, k: int, bitmap: bytes) -> bytes:
    return _HEADER.pack(_MAGIC, k, m) + bytes(bitmap)


def unpack(blob: bytes) -> tuple[int, int, bytes] | None:
    """``(m, k, bitmap)`` or ``None`` for anything malformed.  The
    ``k`` bound matters: the builder never writes k>16, and accepting a
    bit-flipped header's k=2^31 would turn every probe into a
    2-billion-position loop — a corrupt sidecar must degrade to
    "candidate", never stall planning."""
    if len(blob) < _HEADER.size:
        return None
    magic, k, m = _HEADER.unpack_from(blob)
    if magic != _MAGIC or not (1 <= k <= 64) or m < 1:
        return None
    bitmap = blob[_HEADER.size :]
    if len(bitmap) != (m + 7) >> 3:
        return None
    return m, k, bitmap


def sidecar_path(gen_path: str, fname: str, subdir: str = BLOOM_DIR) -> str:
    return os.path.join(gen_path, subdir, fname + ".bf")


def write_sidecar(
    gen_path: str, fname: str, m: int, k: int, bitmap,
    subdir: str = BLOOM_DIR,
) -> None:
    """Atomic (tmp + rename) so a concurrent probe never reads a
    partial sidecar; last-writer-wins is fine (identical content for
    identical input files)."""
    bdir = os.path.join(gen_path, subdir)
    os.makedirs(bdir, exist_ok=True)
    tmp = os.path.join(bdir, f".bf-tmp-{uuid.uuid4().hex[:8]}")
    with open(tmp, "wb") as fh:
        fh.write(pack(m, k, bitmap))
    os.replace(tmp, sidecar_path(gen_path, fname, subdir))


def load_sidecar(
    gen_path: str, fname: str, subdir: str = BLOOM_DIR
) -> tuple[int, int, bytes] | None:
    """``(m, k, bitmap)`` or ``None`` (absent/unreadable/malformed —
    the caller treats the file as a candidate)."""
    try:
        with open(sidecar_path(gen_path, fname, subdir), "rb") as fh:
            return unpack(fh.read())
    except OSError:
        return None


def probe_type(key_type: str):
    """The Python type a probe value must have to be checked against a
    ``key_type``-keyed table's filters, or ``None`` when the key type
    is unsupported.  Probe values of any OTHER type are never probed —
    they count as maybe-present.  This matters for correctness, not
    just precision: the build side hashes the column's NATIVE values,
    while the execution-time ``isin``/``EqualTo`` coerces (Spark casts
    ``"0042"`` against a long key to 42), so probing a mistyped value's
    bytes would prune a file that the coerced predicate matches —
    a false negative.  Same rule as the span pruning's
    incomparable-types-never-prune."""
    base = key_type.strip().lower().split("(")[0]
    if base in ("string", "varchar", "char"):
        return str
    if base in (
        "int", "integer", "long", "bigint", "short", "smallint",
        "byte", "tinyint",
    ):
        return int
    if base == "binary":
        return (bytes, bytearray)
    return None


def file_survives_point_sets(
    gen_path: str, fname: str, point_sets: list[list], key_type: str,
    subdir: str = BLOOM_DIR,
) -> bool:
    """Bloom verdict for one file against ANDed point predicates: each
    ``point_sets`` entry is the value list of one ``EqualTo``/``In`` on
    the row key (ANDed together, values within a set ORed).  The file
    survives unless some predicate's EVERY value is provably absent.
    No sidecar / unhashable value / probe-vs-key type mismatch (see
    :func:`probe_type`) ⇒ survives (sound)."""
    want = probe_type(key_type)
    if want is None:
        return True
    rec = load_sidecar(gen_path, fname, subdir)
    if rec is None:
        return True
    m, k, bitmap = rec
    for values in point_sets:
        hit = False
        for v in values:
            if not isinstance(v, want) or isinstance(v, bool):
                hit = True  # coercible/mistyped value: never prune on it
                break
            data = encode_key(v)
            if data is None or maybe_contains(bitmap, m, k, data):
                hit = True
                break
        if not hit:
            return False
    return True
