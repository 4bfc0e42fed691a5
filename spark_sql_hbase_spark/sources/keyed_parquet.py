"""Keyed-table store: the engine's rebuild of the reference's HBase-backed
table layer, expressed as key-sorted range-partitioned Parquet.

Reference → our mapping (SURVEY §1, §2.A):

- HBase table ``ns:name``            → directory ``<warehouse>/<ns>/<name>``
- region (split keys)                → range partition on ``row_key``;
  the "split" table property (``HBaseClientImpl.scala:262,273,331-364``)
  declares EXACT region boundaries (pre-split parity — typed comparison
  routing, deterministic region→partition map, no file ever straddles a
  declared boundary); undeclared tables sample boundaries via
  ``repartitionByRange``
- HFile (rowkey-sorted cells)        → parquet file sorted by ``row_key``
  (``sortWithinPartitions``) with min/max stats per row group
- server-side Filter pushdown (A3)   → Catalyst → parquet predicate
  pushdown + row-group skipping (strictly stronger: no silently-dropped
  predicates, no startswith/endswith swap — SURVEY §2.B.1 bug notes)
- row-key point/range fast path (A4) → min/max pruning on the sorted key
- scan (A1) / HFile read (A9)        → vectorized parquet scan
- insert w/ row-key generator (A5/A6)→ :meth:`KeyedTableStore.insert`
- CTAS (A7)                          → :meth:`KeyedTableStore.ctas`
- catalog/DDL (A8)                   → registry + Spark session catalog
  (databases == namespaces; temp-view registration per session)
"""

from __future__ import annotations

import base64
import json
import logging
import os
import re
import shutil
import time
import uuid
from contextlib import contextmanager
from functools import lru_cache
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_sql_hbase_spark.catalog import (
    COLUMN_QUALIFIER_SPLITTER,
    ROW_KEY,
    SchemaRegistry,
    TableSpec,
)
from spark_sql_hbase_spark.sources import bloom as _bloom
from spark_sql_hbase_spark.sources import storage_io as _storage_io

DEFAULT_REGIONS = 4  # default range-partition count when no split keys given

logger = logging.getLogger(__name__)


def _murmur3_int32(v: int, seed: int = 42) -> int:
    """Spark's ``Murmur3Hash`` of ONE IntegerType value — the public
    Murmur3 x86_32 single-block path (mixK1/mixH1/fmix with Spark's
    seed 42), the hash behind ``F.hash`` and ``HashPartitioning``.
    Pinned byte-for-byte against ``F.hash`` itself by
    ``test_partition_token_law_matches_spark_hash`` so an engine drift
    breaks loudly instead of silently mis-routing regions."""
    k = ((v & 0xFFFFFFFF) * 0xCC9E2D51) & 0xFFFFFFFF
    k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
    k = (k * 0x1B873593) & 0xFFFFFFFF
    h = (seed & 0xFFFFFFFF) ^ k
    h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
    h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    h ^= 4  # fmix folds in the byte length (one int = 4)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h - 0x100000000 if h >= 0x80000000 else h


@lru_cache(maxsize=None)
def _hash_partition_tokens(n: int) -> tuple:
    """For each partition id ``r`` in ``0..n-1``, the smallest
    non-negative int token with ``pmod(murmur3(token), n) == r``.

    ``repartition(n, token_col)`` places a row at
    ``pmod(Murmur3Hash(value), n)`` — so mapping region ids through
    this token table gives an EXACT region→partition bijection using
    only DataFrame-land hash partitioning (no RDD custom partitioner,
    no Python in the row path).  Pure-Python search, instant for any
    realistic fan-out (expected n·H(n) probes)."""
    found: dict[int, int] = {}
    t = 0
    while len(found) < n:
        p = _murmur3_int32(t) % n
        if p not in found:
            found[p] = t
        t += 1
        if t > (1 << 22):  # unreachable for sane n; loud, not hung
            raise RuntimeError(f"no hash token set found for fan-out {n}")
    return tuple(found[r] for r in range(n))

# table-property prefix recording covered indexes on their main table
_INDEX_PROP = "index."
# lpad-string index keys are order-correct only for non-negative integers
_INTEGRAL_INDEX_TYPES = {
    "byte", "tinyint", "short", "smallint", "int", "integer", "bigint", "long",
}


# per-generation key-span manifest (write-once; appends add sidecars)
_SPAN_MANIFEST = "_spans.json"


class _BatchPin(NamedTuple):
    """A keyed-DML batch materialized once (:meth:`KeyedTableStore._pin_batch`):
    ``frame`` is the one materialization every later use reads, ``table``
    its rows as a driver-side Arrow table (``None`` over the cap), and
    ``keys`` the distinct non-NULL keys when the rows are on the driver.
    ``n`` / ``n_null`` / ``lo`` / ``hi`` / ``counts`` are ``None`` / empty
    when the caller asked for no statistics."""

    frame: DataFrame
    table: object
    n: int | None
    n_null: int | None
    lo: object
    hi: object
    keys: list | None
    counts: dict

    @property
    def span(self) -> tuple | None:
        """``(lo, hi)``, or ``None`` (unprunable) for an empty batch or
        one holding a NULL key — parquet stats cannot see NULL keys."""
        if self.n_null or self.lo is None:
            return None
        return self.lo, self.hi


def _arrow_pinnable(schema) -> bool:
    """Whether every column is a flat type that round-trips exactly
    through Arrow — the only schema condition on a driver-resident pin."""
    from pyspark.sql import types as T

    flat = (
        T.BooleanType, T.ByteType, T.ShortType, T.IntegerType, T.LongType,
        T.FloatType, T.DoubleType, T.DecimalType, T.StringType,
        T.BinaryType, T.DateType, T.TimestampType, T.TimestampNTZType,
    )
    return all(type(f.dataType) in flat for f in schema.fields)


def _py_span(keys) -> tuple:
    """``(min, max)`` of driver-side keys, in Spark's ordering (UTF-8
    preserves code-point order; bytes compare unsigned), or ``(None,
    None)`` when there are none or they are floats (Spark orders NaN
    last, Python nowhere)."""
    if not keys or any(isinstance(k, float) for k in keys):
        return None, None
    return min(keys), max(keys)


class _SpanUnencodable(Exception):
    """Key-stat value with no JSON span encoding — the file's manifest
    entry is omitted and readers fall back to a live footer read."""


class TableNotFoundError(KeyError):
    pass


class TableAlreadyExistsError(ValueError):
    pass


class ConcurrentWriteConflictError(RuntimeError):
    """Another writer committed a generation while this rewrite was
    building against the previous one — the manifest CAS refused the
    flip, the staged generation was discarded, and the table still
    holds BOTH committed states' lineage (nothing was lost).  The DML
    entry points retry automatically (rebuilding against the new
    current generation); admin rewrites (compact/truncate/restore)
    surface it loudly for the caller to re-run."""


class LockTimeoutError(ConcurrentWriteConflictError):
    """Acquiring the per-table writer lock timed out — a stuck or
    long-held lock, NOT a lost CAS.  Subclasses the conflict error so
    best-effort callers (opportunistic GC) keep skipping quietly, but
    :meth:`KeyedTableStore._retry_write_conflict` fails FAST on it:
    retrying a 120s timeout would busy-wait for attempts × timeout
    (~12 minutes) before surfacing a misleading "concurrent writer"
    message, when no retry can succeed until the holder releases."""


class KeyedTableStore:
    """Namespace/table catalog + storage over a warehouse directory.

    Concurrency contract: reads are safe during any rewrite (the
    generation-manifest protocol always resolves one complete
    generation), and concurrent WRITERS are serialized by a per-table
    manifest CAS: each rewrite records the generation it built against
    and the pointer flip is refused — under a per-table lock — when
    another writer committed first (:class:`ConcurrentWriteConflictError`).
    DML entry points retry the loser against the new current generation,
    so two writers in a loop lose no updates; admin rewrites surface the
    conflict loudly.  In-flight builds are protected from a concurrent
    writer's garbage sweep by per-generation liveness markers.

    Keyed DML pipeline: every keyed DML entry point is assembled from
    shared stages.

    0. Batch pin (:meth:`_pin_batch`): a DataFrame batch — the
       :meth:`upsert` source, the :meth:`delete_keys` /
       :meth:`delete_cells` batch, the :meth:`apply_changes` feed, the
       changed keys an index needs — is evaluated once by one bounded
       ``limit(_BLOOM_MERGE_PROBE_MAX + 1).toArrow()``.  Under the cap
       it stays on the driver and re-enters Spark as an Arrow-built
       local relation: its statistics, span and exact probe keys (for
       stage 1 and the index src-key probe) cost no further job.  Over
       the cap it is pinned by ``localCheckpoint`` plus one statistics
       aggregate.  :meth:`mutate` builds its frames from Arrow directly.
    1. Candidates (:meth:`_candidate_files`): footer span pruning, then
       per-key exact-span pruning, then the row-key Bloom probe — the
       files an operation may touch.  Every entry point below and
       :meth:`get` plan through it.
    2. Selective commit (:meth:`_selective_commit`): candidates →
       locate (:meth:`_locate_affected_files`) → changed-key capture →
       rewrite of the affected files only (:meth:`_selective_rewrite`).
       :meth:`delete_where`, :meth:`delete_keys`, :meth:`delete_cells`
       and :meth:`update_where` are this stage with their own selector
       and transform.
    3. Commit tail (:meth:`_commit`): the one end of every write that
       changes a table's rows — one attempt under the CAS retry, with
       the whole covered-index decision around it (stale marker before,
       delta or rebuild after, outside the retry).  Stage 2 ends in it;
       :meth:`upsert`, :meth:`check_and_put` / :meth:`increment` /
       :meth:`append_cell` (through ``_conditional_put``),
       :meth:`check_and_delete`, :meth:`mutate` and
       :meth:`apply_changes` pass their own attempt bodies (the check
       read, the batched merge, the fused feed replay), and so do
       :meth:`insert`, :meth:`truncate_table` and
       :meth:`restore_snapshot` with one attempt and no retry.

    Membership: a generation's members are exactly its directory's
    ``*.parquet`` files (:meth:`_data_files`).  A rewrite writes the
    files it changes into a new generation and carries every other
    file over as a hardlink under its original name — the reference's
    snapshot HFile links — so the file-level diffs (:meth:`read_changes`,
    stats reuse by name) hold by construction, and a retired
    generation's bytes go when its last link does.

    Filesystem boundary: the directory protocol (atomic same-directory
    ``rename``, ``O_CREAT|O_EXCL`` lock files, hardlink carry,
    ``os.listdir``) assumes a LOCAL or POSIX-renaming filesystem (HDFS
    offers the same rename atomicity through a Hadoop-FS shim).  Object
    stores without atomic rename or hardlinks (S3 et al.) need
    membership recorded in manifests instead (``storage_io.py`` item 4)
    — do not point the warehouse at one expecting these semantics.
    """

    def __init__(
        self,
        spark: SparkSession,
        warehouse_dir: str,
        registry: SchemaRegistry | None = None,
        io=None,
    ):
        self.spark = spark
        self.warehouse_dir = warehouse_dir
        self.registry = registry or SchemaRegistry()
        # the four commit-protocol filesystem primitives (writer mutex,
        # liveness probe, atomic rename, link-or-copy) behind one
        # swappable object — sources/storage_io.py documents the
        # HDFS/object-store mapping of each
        self.io = io if io is not None else _storage_io.LocalPosixIO()
        # generations whose span-sidecar backfill failed to WRITE (not
        # mere lock contention) — skip re-attempts for this instance so
        # reads never re-stall on a backfill that cannot succeed
        self._span_backfill_failed: set = set()
        os.makedirs(warehouse_dir, exist_ok=True)

    # -- paths ------------------------------------------------------------
    #
    # Generational layout (round-7 swap protocol): a table's ROOT
    # directory holds data GENERATIONS (``gen-<12-hex>`` subdirectories)
    # plus a ``_GENERATION`` manifest naming the current one.  Readers
    # resolve the manifest and always see one COMPLETE generation; a
    # rewrite builds a new generation and flips the pointer with ONE
    # atomic rename — there is no instant at which the table name
    # dangles (the round-6 two-rename directory swap had a microsecond
    # FileNotFound window, a transient availability fault under
    # concurrent readers at scale).  Retired generations survive one
    # further swap (grace for readers whose plans already resolved
    # them) and are then swept; generations live INSIDE the table root,
    # so no sweep can ever touch another table's files (the round-6
    # ``.{base}__*`` sibling prefix also matched a table named
    # ``{base}__x``).
    #
    # Every table starts at a generation: :meth:`create_table` (and so
    # :meth:`ctas`) writes an empty generation, :meth:`clone_snapshot`
    # the snapshot's, and its manifest before registering the name.  A root
    # without a manifest is not a table — it is refused with
    # :class:`TableNotFoundError` and never modified; parquet written by
    # hand comes in through ``ctas(spec, spark.read.parquet(dir))``.

    _GEN_MANIFEST = "_GENERATION"
    _RESOLVE_AT_ENTRY = object()  # _swap_table_dir expected_base sentinel

    def table_root(self, spec: TableSpec) -> str:
        """The table's stable root directory (holds generations +
        manifest) — the name DDL and drop operate on."""
        return os.path.join(self.warehouse_dir, spec.namespace, spec.name)

    def table_path(self, spec: TableSpec) -> str:
        """The CURRENT data directory: the generation named by the
        manifest."""
        root = self.table_root(spec)
        return os.path.join(root, self._gen_manifest(root)["current"])

    def _read_gen_manifest(self, root: str) -> dict | None:
        try:
            with open(os.path.join(root, self._GEN_MANIFEST)) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def _gen_manifest(self, root: str) -> dict:
        """The manifest of a registered table's root — raising when
        there is none, so a directory that is not a generational table
        is never read as one (nor swept)."""
        man = self._read_gen_manifest(root)
        if man is None:
            raise TableNotFoundError(
                f"{root}: no {self._GEN_MANIFEST} manifest, so this is not "
                "a keyed table; import parquet written by hand with "
                "ctas(spec, spark.read.parquet(dir))"
            )
        return man

    def _write_gen_manifest(
        self, root: str, current: str, previous: str | None
    ) -> None:
        """Flip the generation pointer with ONE atomic same-filesystem
        rename — the only step that changes what readers resolve."""
        tmp = os.path.join(root, f".{self._GEN_MANIFEST}.{uuid.uuid4().hex[:12]}")
        with open(tmp, "w") as f:
            json.dump({"current": current, "previous": previous}, f)
        # THE flip — routed through the storage-io primitive (POSIX:
        # os.replace; object store: the conditional-PUT CAS this call
        # shape was kept rename-of-one-metadata-file for)
        self.io.atomic_rename(tmp, os.path.join(root, self._GEN_MANIFEST))

    def _sweep_generations(
        self, root: str, keep: set, locked: bool = False
    ) -> list[str]:
        """Remove retired/crashed generations not in ``keep``.  Exact
        ``gen-<12-hex>`` match only — never another table's data (all
        candidates live inside this table's root).  A generation a
        LIVE writer is still building (its ``.building-<gen>`` marker
        holds an flock) is never swept — that is what makes concurrent
        writers safe against each other's garbage collection; a marker
        whose owner died is garbage and goes with its directory.
        Temp manifests (``._GENERATION.<hex>``) a crashed flip left are
        removed; no other root-level file is touched.

        Deletion DECISIONS run under the per-table writer lock with the
        manifest RE-READ there: a generation a concurrent writer
        flipped current after this writer resolved its ``keep`` set
        must survive (the flip takes the same lock, so "not current
        under the lock" cannot become current before the decision
        lands).  The decision is an atomic RENAME to a ``.trash-*``
        name — the lock is held for directory renames only, never a
        recursive delete; the rmtree runs after release.  ``locked=
        True`` = the caller already holds the lock; the trash paths are
        returned for the caller to delete after releasing it."""
        import re as _re

        trash: list[str] = []

        def decide() -> None:
            man = self._read_gen_manifest(root)
            keep_now = set(keep)
            if man is not None:
                keep_now |= {man["current"], man.get("previous")}
            entries = os.listdir(root)
            # scan leases: a live ``.reading-<gen>.<hex>`` flock pins
            # its generation against sweeping (the HBase scanner-lease
            # analogue — see :meth:`scan_lease`); dead lease markers
            # are cleaned below
            leased = set()
            for e in entries:
                m = self._LEASE_MARKER_RE.fullmatch(e)
                if m and self._flock_live(os.path.join(root, e)):
                    leased.add(m.group(1))
            for entry in entries:
                full = os.path.join(root, entry)
                if entry in (self._GEN_MANIFEST, self._WRITER_LOCK):
                    continue
                if os.path.isdir(full):
                    if (
                        _re.fullmatch(r"gen-[0-9a-f]{12}", entry)
                        and entry not in keep_now
                        and entry not in leased
                    ):
                        if self._flock_live(
                            os.path.join(root, f".building-{entry}")
                        ):
                            continue  # a concurrent writer's live build
                        dst = os.path.join(
                            root, f".trash-{uuid.uuid4().hex[:12]}"
                        )
                        try:
                            # DIRECTORY trash-rename: POSIX-layout GC
                            # mechanics, deliberately NOT an io
                            # primitive (object stores have no
                            # directories; their GC deletes objects by
                            # manifest difference)
                            os.rename(full, dst)
                        except OSError:
                            continue  # another sweeper got it first
                        trash.append(dst)
                    elif entry.startswith(".trash-"):
                        # a crashed earlier sweep renamed but never
                        # deleted — never resolvable, safe to finish
                        trash.append(full)
                    elif _re.fullmatch(r"\.append-[0-9a-f]{12}", entry):
                        # an append's staging run (normal appends remove
                        # theirs in a finally).  Liveness is the flock on
                        # the sibling ``.writing`` marker — a SIGKILLed
                        # append releases it with its fd; the mtime age
                        # is only the fallback for a staging dir that
                        # never got its marker
                        marker = full + ".writing"
                        if self._flock_live(marker):
                            continue
                        if os.path.exists(marker):
                            trash.append(full)
                        else:
                            try:
                                age = time.time() - os.stat(full).st_mtime
                            except OSError:
                                continue
                            if age > 3600:
                                trash.append(full)
                elif _re.fullmatch(r"\.building-gen-[0-9a-f]{12}", entry):
                    # liveness marker: keep while its flock is held; a
                    # dead writer's marker is swept (its directory too,
                    # above)
                    if not self._flock_live(full):
                        try:
                            os.remove(full)
                        except OSError:
                            pass
                elif _re.fullmatch(
                    r"\.append-[0-9a-f]{12}\.writing", entry
                ):
                    if not self._flock_live(full) and not os.path.isdir(
                        full[: -len(".writing")]
                    ):
                        try:
                            os.remove(full)
                        except OSError:
                            pass
                elif self._LEASE_MARKER_RE.fullmatch(entry):
                    # a dead reader's lease marker (crashed scan — the
                    # kernel released its flock) is garbage
                    if not self._flock_live(full):
                        try:
                            os.remove(full)
                        except OSError:
                            pass
                elif entry.startswith(f".{self._GEN_MANIFEST}."):
                    # a crashed flip's temp manifest (flips take this
                    # same lock, so none is mid-write here)
                    try:
                        os.remove(full)
                    except OSError:
                        pass

        if locked:
            decide()
            return trash
        try:
            # opportunistic GC: skip quietly under writer contention
            # rather than stall the caller's real work
            with self._table_write_lock(root, timeout=5.0):
                decide()
        except ConcurrentWriteConflictError:
            return []
        for t in trash:
            shutil.rmtree(t, ignore_errors=True)
        return []

    _WRITER_LOCK = "._WRITER_LOCK"
    _LOCK_TIMEOUT_S = 120.0
    # ONE wire format for scan-lease markers, shared by the writer
    # (:meth:`_lease_marker_name`) and the sweep's parser — a drift
    # between them would silently disable lease protection
    _LEASE_MARKER_RE = re.compile(
        r"\.reading-(gen-[0-9a-f]{12})\.[0-9a-f]{8}"
    )

    @staticmethod
    def _lease_marker_name(token: str) -> str:
        return f".reading-{token}.{uuid.uuid4().hex[:8]}"

    @contextmanager
    def _table_write_lock(self, root: str, timeout: float | None = None):
        """Per-table writer mutex: an ``flock``-ed lock file.  The lock
        is kernel-owned and released automatically when the holder's fd
        closes — a SIGKILLed writer cannot leave a stale lock, and
        there is no remove/recreate window for two waiters to race
        through (the O_EXCL-lockfile protocol this replaces let two
        waiters both "break" a dead lock, the second deleting the
        first's FRESH lock).  The file itself is NEVER unlinked: that
        is what keeps every locker flocking the same inode.  Local/
        POSIX filesystems only — the store's documented boundary.
        Held around flip/link critical sections, never during a build,
        so contention is sub-second.  Delegates to the store's IO
        backend (``sources/storage_io.py`` — POSIX flock here; the
        HDFS/object-store mappings are documented there).  Only the
        ACQUISITION's TimeoutError becomes :class:`LockTimeoutError`
        — a TimeoutError raised by the critical-section body (e.g. an
        NFS op failing with ETIMEDOUT) must propagate untouched, not
        be mislabeled a lock problem and swallowed by best-effort
        conflict handlers."""
        from contextlib import ExitStack

        path = os.path.join(root, self._WRITER_LOCK)
        with ExitStack() as stack:
            try:
                stack.enter_context(self.io.writer_lock(
                    path,
                    self._LOCK_TIMEOUT_S if timeout is None else timeout,
                ))
            except TimeoutError as e:
                raise LockTimeoutError(str(e)) from None
            yield

    def _flock_live(self, path: str) -> bool:
        """True iff some process/thread holds the lock on ``path`` —
        the liveness probe behind build/append markers.  A crashed
        owner's lock is released by the backend with its holder (POSIX:
        the kernel releases the flock with the fd), so "acquirable" ==
        "owner gone" with no pid bookkeeping (and no pid-recycling
        false positives)."""
        return self.io.lock_is_live(path)

    @contextmanager
    def _marker_guard(self, path: str):
        """Create ``path`` ALREADY lock-held (the backend guarantees a
        prober never observes the marker unlocked while its owner
        lives), hold it for the body, unlink on exit — the writer-side
        half of :meth:`_flock_live`."""
        with self.io.held_marker(path):
            yield

    @staticmethod
    def _is_vanished_generation(e: Exception) -> bool:
        """True when ``e`` reads as "a file/directory this attempt
        resolved no longer exists" — which, inside a DML attempt, means
        TWO concurrent commits retired the attempt's base generation
        past its reader-grace window mid-locate.  That is a write
        CONFLICT (the CAS would refuse the flip anyway); the attempt
        re-resolves and retries.  Spark surfaces the executor-side
        variant as a wrapped ``FileNotFoundException``."""
        if isinstance(e, FileNotFoundError):
            return True
        s = str(e)
        return "FileNotFoundException" in s or "PATH_NOT_FOUND" in s

    def _retry_write_conflict(self, attempt, attempts: int = 8):
        """Run ``attempt`` (a complete DML locate+build+swap closure
        that re-resolves the table's current generation itself),
        retrying when a concurrent writer wins the manifest CAS — the
        loser rebuilds against the winner's committed state, so both
        mutations land.  A vanished-generation error mid-attempt (the
        base retired by two+ concurrent commits before this attempt's
        own flip could refuse) retries the same way; any other error
        raises immediately.  Backoff is exponential with ±50% jitter
        (the HBase-client retry discipline): without jitter, writers
        that collided once re-collide in lockstep under sustained
        contention — exactly when retries matter most."""
        import random

        for i in range(attempts):
            try:
                return attempt()
            except LockTimeoutError:
                raise  # no retry can succeed until the holder releases
            except ConcurrentWriteConflictError:
                if i == attempts - 1:
                    raise
            except Exception as e:  # noqa: BLE001 — filtered just below
                if i == attempts - 1 or not self._is_vanished_generation(e):
                    raise
            delay = min(1.0, 0.05 * (2 ** i))
            time.sleep(delay * (0.5 + random.random()))

    # -- namespace DDL (reference: HBaseExternalCatalog create/drop db) ---
    def create_namespace(self, ns: str, ignore_if_exists: bool = True) -> None:
        path = os.path.join(self.warehouse_dir, ns)
        if os.path.exists(path) and not ignore_if_exists:
            raise TableAlreadyExistsError(f"namespace exists: {ns}")
        os.makedirs(path, exist_ok=True)
        self.spark.sql(f"CREATE DATABASE IF NOT EXISTS `{ns}`")

    def drop_namespace(self, ns: str, cascade: bool = False) -> None:
        tables = self.registry.tables(ns)
        if tables and not cascade:
            raise ValueError(f"namespace {ns} not empty: {tables}")
        for qualified in tables:
            self.drop_table(qualified)
        shutil.rmtree(os.path.join(self.warehouse_dir, ns), ignore_errors=True)
        self.spark.sql(f"DROP DATABASE IF EXISTS `{ns}` CASCADE")

    def namespaces(self) -> list[str]:
        return self.registry.namespaces()

    # -- table DDL --------------------------------------------------------
    def create_table(self, spec: TableSpec, ignore_if_exists: bool = False) -> None:
        """Create an empty keyed table (reference:
        ``HBaseClientImpl.createTable``, ``client/HBaseClientImpl.scala:303-365``)."""
        if ignore_if_exists and self.registry.exists(spec.qualified_name):
            return
        # materialize an empty parquet footprint (generation 0) so reads
        # of a fresh table return an empty, correctly-typed DataFrame
        self._create_table(
            spec,
            lambda gen: self.spark.createDataFrame([], spec.schema())
            .write.mode("overwrite").parquet(gen),
        )

    def _create_table(self, spec: TableSpec, build_first) -> None:
        """Register a new table whose first generation
        ``build_first(gen_path)`` writes."""
        if self.registry.exists(spec.qualified_name):
            raise TableAlreadyExistsError(spec.qualified_name)
        self.create_namespace(spec.namespace)
        root = self.table_root(spec)
        os.makedirs(root, exist_ok=True)
        gen = f"gen-{uuid.uuid4().hex[:12]}"
        build_first(os.path.join(root, gen))
        self._write_gen_manifest(root, gen, None)
        self.registry.register(spec)
        self._register_view(spec)

    def drop_table(self, qualified_name: str) -> None:
        spec = self.registry.get(qualified_name)
        shutil.rmtree(self.table_root(spec), ignore_errors=True)
        self.registry.drop(qualified_name)
        self.spark.catalog.dropTempView(self._view_name(spec))
        self.spark.sql(f"DROP TABLE IF EXISTS `{spec.namespace}`.`{spec.name}`")
        if hasattr(self, "_catalog_paths"):
            self._catalog_paths.pop(qualified_name, None)
        # if the dropped table was a covered index, deregister it from its
        # main table so DML stops trying to maintain a ghost
        key = f"{_INDEX_PROP}{qualified_name}"
        for qn in self.registry.tables():
            mspec = self.registry.get(qn)
            if key in mspec.properties:
                del mspec.properties[key]
                self.registry.register(mspec)

    def truncate_table(self, qualified_name: str) -> None:
        """TRUNCATE TABLE (HBase shell ``truncate``): replace the data
        with an empty footprint of the declared schema through the
        staged atomic swap — crash-safe like every other rewrite, and
        registered covered indexes truncate with it through the commit
        tail (an empty table's index is empty)."""
        spec = self.registry.get(qualified_name)
        empty = self.spark.createDataFrame([], spec.schema())

        def attempt() -> tuple:
            self._swap_table_dir(
                spec,
                lambda staging: empty.write.mode("overwrite").parquet(staging),
            )
            return None, True, None

        self._commit(qualified_name, attempt, attempts=1)

    def exists(self, qualified_name: str) -> bool:
        return self.registry.exists(qualified_name)

    # -- ALTER surface (reference: HBaseExternalCatalog.scala:34 alterDatabase,
    # :69 alterTable, :72 alterTableDataSchema) ---------------------------
    def alter_table_add_columns(
        self, qualified_name: str, cols: list[tuple[str, str]]
    ) -> None:
        """ADD COLUMNS schema evolution (reference ``alterTableDataSchema``,
        ``HBaseExternalCatalog.scala:72`` — add a qualifier to a family).

        Registry-first and data-free: the new ``cf:qualifier`` merges into
        the spec's families; existing parquet files simply lack the column
        and the spec-schema scan reads it back as NULL (parquet schema
        evolution), so NO data rewrite happens — at 100 TB an ADD COLUMNS
        is a metadata-only operation.  The session-catalog table is
        re-registered with the widened DDL (drop/recreate of the external
        entry; the files never move)."""
        spec = self.registry.get(qualified_name)
        for col, typ in cols:
            if col == ROW_KEY:
                raise ValueError(f"cannot ADD COLUMNS the key column {ROW_KEY!r}")
            cf, _, qual = col.partition(":")
            if not qual:
                cf, qual = "cf", col
            if qual in spec.families.get(cf, {}):
                raise TableAlreadyExistsError(
                    f"column {cf}:{qual} already exists in {qualified_name}"
                )
            spec.families.setdefault(cf, {})[qual] = typ
        self.registry.register(spec)
        # force a full catalog re-register (the cached-path fast path would
        # otherwise just REFRESH the old DDL)
        if hasattr(self, "_catalog_paths"):
            self._catalog_paths.pop(qualified_name, None)
        self._register_view(spec)

    def alter_table_set_properties(
        self, qualified_name: str, props: dict[str, str]
    ) -> None:
        """Table property update (reference ``alterTable``,
        ``HBaseExternalCatalog.scala:69`` — metadata-only)."""
        spec = self.registry.get(qualified_name)
        spec.properties.update(props)
        self.registry.register(spec)

    def alter_namespace(self, ns: str, props: dict[str, str]) -> None:
        """Namespace property update (reference ``alterDatabase``,
        ``HBaseExternalCatalog.scala:34``)."""
        if not os.path.isdir(os.path.join(self.warehouse_dir, ns)):
            raise TableNotFoundError(f"namespace not found: {ns}")
        if not hasattr(self, "_namespace_props"):
            self._namespace_props: dict[str, dict[str, str]] = {}
        self._namespace_props.setdefault(ns, {}).update(props)
        kv = ", ".join(f"'{k}'='{v}'" for k, v in props.items())
        self.spark.sql(f"ALTER DATABASE `{ns}` SET DBPROPERTIES ({kv})")

    def namespace_properties(self, ns: str) -> dict[str, str]:
        return dict(getattr(self, "_namespace_props", {}).get(ns, {}))

    def tables(self, namespace: str | None = None) -> list[str]:
        return self.registry.tables(namespace)

    # -- read path (A1/A9: scan with pruning + pushdown via Catalyst) -----
    def read(self, qualified_name: str) -> DataFrame:
        spec = self.registry.get(qualified_name)
        return self.spark.read.schema(spec.schema()).parquet(self.table_path(spec))

    def read_generation(
        self, qualified_name: str, which: str = "previous"
    ) -> DataFrame:
        """Time-travel read: the table as of a retained GENERATION.

        ``which="previous"`` reads the state the last table-replacing
        operation (MERGE/DELETE/UPDATE/compaction/TRUNCATE/restore)
        replaced — the generation the swap protocol retains for one
        grace swap anyway, so this costs nothing extra to serve.  The
        HBase analogue is reading a pre-mutation snapshot without
        having taken one; unlike :meth:`snapshot` the previous
        generation is TRANSIENT (the next rewrite sweeps it) — take a
        real snapshot for durable rollback points.  Raises
        :class:`TableNotFoundError` when no rewrite has happened yet
        (nothing to travel to)."""
        spec = self.registry.get(qualified_name)
        if which == "current":
            return self.read(qualified_name)
        if which != "previous":
            raise ValueError(f"which must be 'current' or 'previous', got {which!r}")
        root = self.table_root(spec)
        prev = self._gen_manifest(root).get("previous")
        if prev is None:
            raise TableNotFoundError(
                f"{qualified_name} has no previous generation "
                "(no table rewrite since creation)"
            )
        return self.spark.read.schema(spec.schema()).parquet(
            os.path.join(root, prev)
        )

    def read_changes(
        self, qualified_name: str, versus: str, cells: bool = False
    ) -> DataFrame:
        """CDC read: the row-level changes between a retained BASE state
        and the current generation — the HBase replication/WAL-shipping
        analogue, served from the storage layout itself (no log).

        ``versus`` names the base and is REQUIRED — any consumer that
        can lag should diff against a SNAPSHOT (:meth:`snapshot`),
        giving snapshot-to-now incremental exports (the HBase
        ExportSnapshot incremental pattern) against a DURABLE base.
        The literal ``versus="previous"`` is an explicit opt-in to the
        TRANSIENT base: the generation the last table-replacing
        operation retired (the same state :meth:`read_generation`
        serves).  The next rewrite sweeps that base, so an unconsumed
        "previous" feed fails loudly at action time (the pinned file
        paths vanish) — the remediation is a snapshot base, which the
        replication loop (:meth:`export_snapshot` → :meth:`apply_changes`)
        already uses.  A snapshot base is validated to belong to THIS
        table (same recorded ``qualified_name``): diffing against
        another table's schema-compatible snapshot would silently emit
        meaningless change rows.

        Emits ``(change, <table columns>)``.  With ``cells=False``
        (key granularity, the default for one-row-per-key tables)
        ``change`` is one of ``insert`` / ``update`` (carrying the NEW
        row) / ``delete`` (carrying the old row), classified by key
        identity.  With ``cells=True`` (CELL granularity — the correct
        feed for versioned-retention tables, where versions are cells,
        not in-place updates) every added row is an ``insert`` and
        every removed row a ``delete``; there is no ``update``, no
        per-key classification runs, and replaying the feed with
        ``apply_changes(..., cells=True)`` reconstructs the exact cell
        state (a key-granularity replay would wipe a key's older
        version cells — the HBase Put/retention semantics pinned by
        ``test_changes_on_versioned_table_are_cell_semantics``).

        100 TB design — the diff is FILE-level first, row-level second:
        every write path carries unchanged files across generations
        (and into snapshots) as HARDLINKS under their original
        basenames, and data files are immutable once written, so a
        file listed on both sides is byte-identical by construction
        and is never read.  Only the symmetric difference of the two
        listings is scanned, in ONE exchange on ``row_key``: the
        current rows (tagged +1) and the base rows (tagged -1) are
        hash-partitioned by key, a per-row net count drops
        rewritten-but-unchanged rows (selective rewrites rewrite whole
        files) with exact multiset multiplicities, and a per-key
        window over the same partitions classifies what is left.
        Cost: O(changed files) I/O plus one shuffle of the changed
        files' rows — independent of table size.
        """
        spec = self.registry.get(qualified_name)
        root = self.table_root(spec)
        man = self._gen_manifest(root)
        cur_dir = os.path.join(root, man["current"])
        if versus == "previous":
            prev = man.get("previous")
            if prev is None:
                raise TableNotFoundError(
                    f"{qualified_name} has no previous generation "
                    "(no table rewrite since creation)"
                )
            base_dir = os.path.join(root, prev)
        else:
            base_dir = self._snapshot_dir(versus)
            if not os.path.isdir(base_dir):
                raise TableNotFoundError(f"snapshot not found: {versus}")
            saved = self._read_snapshot_spec(versus)
            if saved["qualified_name"] != qualified_name:
                raise ValueError(
                    f"snapshot {versus!r} was taken from "
                    f"{saved['qualified_name']!r}, not {qualified_name!r} — "
                    "a cross-table diff would emit meaningless change rows"
                )
        cur_files = set(self._data_files(cur_dir))
        base_files = set(self._data_files(base_dir))
        schema = spec.schema()

        def _rd(dirp: str, names) -> DataFrame:
            names = sorted(names)
            if not names:
                return self.spark.createDataFrame([], schema)
            return self.spark.read.schema(schema).parquet(
                *[os.path.join(dirp, f) for f in names]
            )

        cur_df = _rd(cur_dir, cur_files - base_files)
        base_df = _rd(base_dir, base_files - cur_files)
        # ONE row_key exchange carries the whole diff: the current rows
        # tagged +1 and the base rows tagged -1 are hash-partitioned on
        # the key once; the multiset aggregate (the arithmetic exceptAll
        # is rewritten to, so NULLs and floats group alike) and the
        # per-key classification window both ride that partitioning
        from pyspark.sql import Window

        cols = [F.col(f"`{f.name}`") for f in schema.fields]
        rk = F.col(f"`{ROW_KEY}`")
        net = F.col("__net")
        diff = (
            cur_df.withColumn("__tag", F.lit(1))
            .unionByName(base_df.withColumn("__tag", F.lit(-1)))
            .repartition(rk)
            .groupBy(*cols)
            .agg(F.sum("__tag").alias("__net"))
            .filter(net != 0)
        )
        if cells:
            # cell granularity: every added row IS an insert and every
            # removed row IS a delete — no classification at all
            change = F.when(net > 0, "insert").otherwise("delete")
        else:
            # classify by key identity; the window groups NULL keys
            # together, which is the null-safe key match delete_where's
            # NULL-key law needs
            key = Window.partitionBy(rk)
            change = F.when(
                net > 0,
                F.when(F.max(net < 0).over(key), "update").otherwise("insert"),
            ).when(~F.max(net > 0).over(key), "delete")
        # a removed row of a key that also gained rows is subsumed by
        # the key's update (change NULL); every kept row is replicated
        # |net| times so multiset multiplicities stay exact
        return (
            diff.withColumn("change", change)
            .filter(F.col("change").isNotNull())
            .withColumn("__rep", F.explode(F.sequence(F.lit(1), F.abs(net))))
            .select("change", *cols)
        )

    def apply_changes(
        self,
        qualified_name: str,
        changes: DataFrame,
        cells: bool = False,
    ) -> int:
        """Replay a changefeed onto a REPLICA table — the HBase
        ``ReplicationSink`` analogue (shipped WALEdits replayed as Puts
        and Deletes).  On a key-granularity feed BOTH ``insert`` and
        ``update`` rows replay through :meth:`upsert` (the rows ARE the
        key's full new state on a one-row-per-key table, so an upsert
        of a brand-new key is identical to an append the first time —
        and, unlike an append, IDEMPOTENT when a crash between the
        replay and the sink's batch marker re-applies the batch; see
        ``streaming/pipelines.py`` ``stream_apply_changes``).  On a
        cell-granularity feed (``cells=True``) ``insert`` rows are new
        version CELLS and replay as a pure APPEND (:meth:`insert` —
        nothing is replaced; a marker-crash-window replay can duplicate
        one batch's cells, the bounded caveat documented on
        ``stream_apply_changes`` — ``read_versions_asof`` collapses
        bit-identical duplicate cells on read); ``delete`` rows
        replay through :meth:`delete_keys` (``cells=False``) or
        :meth:`delete_cells` (``cells=True``).
        After ``apply_changes(replica, read_changes(source, versus=s))``
        a replica bootstrapped from base ``s`` equals the source state
        (pinned by ``tests/test_changefeed.py``).

        ``cells`` must match the granularity the feed was READ with
        (:meth:`read_changes`).  VERSIONED-retention tables require the
        cell feed and this method refuses a key-granularity replay on
        them loudly: a key's ``update`` rows carry only its NEW cells
        (upserting them wipes the replica's older version cells) and a
        ``delete`` row means one cell expired, not that the key died
        (``delete_keys`` would drop the key's live cells too).  A cell
        feed by construction contains no ``update`` rows; one arriving
        is a granularity mix-up and refuses loudly.

        The feed is pinned once (:meth:`_pin_batch`) before any write:
        replaying a table's OWN changefeed — or any lazily-read state
        of the target — must not re-evaluate against the generations
        the replay itself creates.  One diff's put and delete key
        sets are disjoint (:meth:`read_changes` emits a ``delete`` only
        for a key that gained no row), so the commits compose
        order-independently.
        Cost follows the selective paths: O(changed files) per commit,
        never a table rewrite.  Returns the number of rows deleted
        (appended/upserted rows are not separately counted)."""
        spec = self.registry.get(qualified_name)
        if not cells and self._table_prop(spec, "versions") is not None:
            raise ValueError(
                f"{qualified_name}: key-granularity changefeed replay on a "
                "VERSIONED table corrupts version cells (an upsert replaces "
                "every cell of a matched key; a key delete drops live "
                "cells). Read the feed with read_changes(..., cells=True) "
                "and replay with apply_changes(..., cells=True)."
            )
        schema = spec.schema()
        cols = [f"`{f.name}`" for f in schema.fields]
        # the feed is pinned once (:meth:`_pin_batch`), and that one
        # pass carries every driver-side decision below: tag
        # validation, per-tag emptiness, the NULL-key laws and the feed
        # row count are per-row flag counts, the key span comes with
        # the pin, and the put/delete key-set overlap is read off the
        # driver-resident rows — or, for a feed over the cap, one
        # aggregate over a per-key rollup of the change tags
        ch = F.col("change")
        rk = F.col(f"`{ROW_KEY}`")
        put_row = ch.isin("insert", "update")
        pin = self._pin_batch(
            changes.select(
                "*",
                (ch == "insert").alias("__ins"),
                (ch == "update").alias("__upd"),
                (ch == "delete").alias("__del"),
                (ch.isNull() | ~ch.isin("insert", "update", "delete"))
                .alias("__unk"),
                (rk.isNull() & put_row).alias("__put_null"),
                (rk.isNull() & (ch == "delete")).alias("__del_null"),
            ),
            ROW_KEY,
            flags=("__ins", "__upd", "__del", "__unk", "__put_null", "__del_null"),
        )
        feed = pin.frame
        s = {f[2:]: n for f, n in pin.counts.items()}
        tagged = feed.groupBy(rk.alias("__ck")).agg(
            F.max(put_row).alias("__put"), F.max(ch == "delete").alias("__del")
        )
        if pin.table is not None:
            put, dele = set(), set()
            for k, t in zip(
                pin.table.column(ROW_KEY).to_pylist(),
                pin.table.column("change").to_pylist(),
            ):
                if t in ("insert", "update"):
                    put.add(k)
                elif t == "delete":
                    dele.add(k)
            alive = [k for k in put - dele if k is not None]
            s.update(n_put=len(put), n_both=len(put & dele))
            s["put_lo"], s["put_hi"] = _py_span(alive)
        else:
            s.update(tagged.agg(
                F.count(F.when(F.col("__put"), 1)).alias("n_put"),
                F.count(F.when(F.col("__put") & F.col("__del"), 1)).alias(
                    "n_both"
                ),
                F.min(F.when(F.col("__put"), F.col("__ck"))).alias("put_lo"),
                F.max(F.when(F.col("__put"), F.col("__ck"))).alias("put_hi"),
            ).first().asDict())
            if s["n_both"]:
                # the put span must bound the surviving puts exactly
                s["put_lo"] = s["put_hi"] = None
        if s["unk"]:
            # a row with a mistyped/NULL change tag would otherwise be
            # dropped SILENTLY — a replica that quietly misses changes
            # is the worst failure mode a replication sink can have
            # (the extra job to name the offending tags runs on the
            # error path only)
            unknown = [
                r[0]
                for r in feed.select("change").distinct().collect()
                if r[0] not in ("insert", "update", "delete")
            ]
            raise ValueError(
                f"{qualified_name}: changefeed rows with unknown change "
                f"tag(s) {unknown!r} (expected insert/update/delete)"
            )
        ins = feed.filter(F.col("change") == "insert").select(*cols)
        dels = feed.filter(F.col("change") == "delete")
        # granularity validation runs BEFORE any write (like the
        # unknown-tag check above): a refused feed must apply NOTHING —
        # appending its inserts first and raising after would leave the
        # replica partially mutated by a feed we claim to refuse loudly
        if cells and s["upd"]:
            raise ValueError(
                f"{qualified_name}: a cell-granularity feed cannot "
                "contain 'update' rows — this feed was read with "
                "cells=False; replay it with apply_changes(cells=False)"
            )
        if cells:
            if s["ins"]:
                # new version CELLS: pure append (nothing replaced)
                self.insert(qualified_name, ins, generate_row_key=False)
            if not s["del"]:
                return 0
            return self.delete_cells(qualified_name, dels.select(*cols))
        # key granularity: ONE fused locate + merge rewrite + swap
        # commits the puts AND the deletes together (the mutate()
        # drop_keys rewrite applied to a DataFrame feed) instead of an
        # upsert commit followed by a delete_keys commit — half the
        # generation cycles, span manifests, Bloom passes and CAS
        # flips per replay.  Inserts and updates both replay as puts
        # (the rows ARE the key's full new state on a one-row-per-key
        # table); a key that is both put and deleted in one feed ends
        # DELETED (the sequential replay's upsert-then-delete order),
        # so its put row is excluded from the merge and the key still
        # counts as deleted.  Outcome-identical to the sequential
        # replay and IDEMPOTENT on a marker-crash-window re-apply (the
        # feed's keys ARE the replicated keys) — and, as ONE atomic
        # swap, a replica can no longer be observed between the put
        # and delete halves of a replay.
        if s["put_null"]:
            # HBase parity (the upsert law): a Put without a row key is
            # invalid — and a NULL put key would silently fall through
            # both sides of the rewrite's key-span split
            raise ValueError(
                "MERGE source contains NULL row_key values; every row "
                "needs a key"
            )
        n_alive = s["n_put"] - s["n_both"]
        puts = feed.filter(
            F.col("change").isin("insert", "update")
        ).select(*cols)
        del_keys = dels.select(rk)
        if s["del_null"]:
            # NULL delete keys carry delete_where's NULL-key law
            # (null-safe match) which the span/locate fast path below
            # cannot see — replay sequentially through the generic
            # paths exactly as before
            if s["n_put"]:
                self.upsert(qualified_name, puts)
            return self.delete_keys(qualified_name, del_keys)
        if not pin.n:
            return 0  # empty feed: a true no-op, no stale window
        # One diff's put/delete key sets are disjoint (read_changes
        # drops a removed row whose key gained rows; n_both == 0) and
        # the puts ride the pinned feed through a plain filter.  An
        # ARBITRARY feed (e.g. two concatenated diffs) can overlap;
        # those keys end DELETED, so the overlap is anti-joined out and
        # pinned once for the rewrite and every index projection
        # (ADVICE r12).
        if s["n_both"]:
            puts_alive = puts.join(
                F.broadcast(del_keys), ROW_KEY, "left_anti"
            ).localCheckpoint(eager=True)
        else:
            puts_alive = puts

        def attempt() -> tuple:
            path = self.table_path(spec)
            stats: dict = {}
            candidates = self._candidate_files(
                spec, path, (pin.lo, pin.hi), pin.keys, stats
            )
            affected: dict = {}
            n_del_only = 0
            if candidates:
                # ONE locate scan serves both halves: an inner join
                # against the per-key tag rollup (one row per key)
                # marks the affected files and counts the delete-only
                # matches in the same job
                import urllib.parse

                cur = self.spark.read.schema(schema).parquet(
                    *[os.path.join(path, f) for f in candidates]
                )
                rows = (
                    cur.join(
                        F.broadcast(tagged.select("__ck", "__put", "__del")),
                        F.col(ROW_KEY) == F.col("__ck"),
                        "inner",
                    )
                    .groupBy(F.input_file_name().alias("__f"))
                    .agg(
                        F.count(F.lit(1)).alias("n"),
                        F.count(
                            F.when(F.col("__del") & ~F.col("__put"), 1)
                        ).alias("nd"),
                    )
                    .collect()
                )
                affected = {
                    os.path.basename(urllib.parse.urlparse(r["__f"]).path):
                    r["n"]
                    for r in rows
                }
                n_del_only = sum(r["nd"] for r in rows)
            # deleted = existing delete-only rows + every overlap key
            # (its put row is suppressed, so the key ends deleted
            # whether or not it existed — the sequential replay's count)
            n_deleted = n_del_only + s["n_both"]
            if not affected and not n_alive:
                # nothing to rewrite or append: no index pass either
                return n_deleted, False, None
            # the feed IS the index delta: its rows are the changed
            # keys' full post-replay state (one-row-per-key table), so
            # one pass per index drops the entries of every feed key
            # and appends the projections of the surviving put rows
            return n_deleted, True, self._upsert_rewrite(
                spec, puts_alive,
                (feed.select(rk), pin.keys, puts_alive, bool(n_alive)),
                affected, path, schema,
                batch_span=(
                    (s["put_lo"], s["put_hi"]) if n_alive else None
                ),
                footer_stats=stats, n_changed=pin.n,
                drop_keys=del_keys if s["del"] else None,
                new_run_known_empty=not n_alive,
            )

        return self._commit(qualified_name, attempt)

    @contextmanager
    def scan_lease(self, qualified_name: str):
        """HBase scanner-lease analogue (a RegionServer scanner's lease
        keeps its store files readable for the scanner's lifetime; the
        reference's scans ride that server-side contract implicitly —
        ``execution/HBaseTableScanExec.scala:52`` opens a ``Scan`` whose
        RegionServer scanner holds the lease): pin the generation
        CURRENT at entry and yield a DataFrame bound to it.
        While the lease's flock is held, no sweep will delete that
        generation — a long-running scan (export, training pass,
        multi-action analysis) survives ANY amount of concurrent
        DML/compaction churn, not just the default one-swap reader
        grace.  A crashed leaseholder's flock is released by the kernel
        with its fd, so an abandoned lease cannot leak retired
        generations (the marker is swept like every dead marker).

        Acquisition serializes briefly with sweep DECISIONS via the
        per-table writer lock (never held during the scan itself): a
        generation can be retired-and-renamed between an unlocked
        resolve and the marker landing, so the resolve+pin runs under
        the lock and re-verifies the directory.  Reads outside the
        lease are unaffected; DML throughput is unaffected (sweeps skip
        the pinned generation and everything else proceeds)."""
        spec = self.registry.get(qualified_name)
        with self._generation_lease(qualified_name) as (_path, files):
            if files:
                leased = self.spark.read.schema(spec.schema()).parquet(
                    *files
                )
            else:
                leased = self.spark.createDataFrame([], spec.schema())
            yield leased

    @contextmanager
    def _generation_lease(self, qualified_name: str):
        """The lease primitive under :meth:`scan_lease` (and
        :meth:`snapshot`): pin the generation current at entry and
        yield ``(generation_path, pinned_file_list)`` — full paths,
        point-in-time consistent.  See ``scan_lease`` for the
        protocol's guarantees and why the resolve+pin runs under the
        writer lock."""
        from contextlib import ExitStack

        root = self.table_root(self.registry.get(qualified_name))
        for i in range(8):
            with ExitStack() as stack:
                with self._table_write_lock(root, timeout=30.0):
                    if not os.path.isdir(root):
                        raise TableNotFoundError(
                            f"{qualified_name}: table dropped while "
                            "acquiring a scan lease"
                        )
                    cur = self._gen_manifest(root)["current"]
                    path = os.path.join(root, cur)
                    if not os.path.isdir(path):
                        # a manifest naming a missing directory cannot
                        # come from ordinary churn (sweep decisions take
                        # this same lock and never touch the current
                        # generation) — re-resolve a few times in case
                        # an external actor is mid-rebuild, then fail
                        time.sleep(0.05 * (i + 1))
                        continue
                    # the SNAPSHOT is the explicit file list, pinned
                    # BEFORE the lock releases: no sweep decision can
                    # delete a listed file (the lease), and a concurrent
                    # APPEND hardlinking new files into a still-current
                    # generation is invisible (they are not in the list)
                    # — every action on the leased frame reads the same
                    # complete, consistent state
                    files = [
                        os.path.join(path, f)
                        for f in self._data_files(path)
                    ]
                    stack.enter_context(self._marker_guard(
                        os.path.join(root, self._lease_marker_name(cur))
                    ))
                yield path, files
                return
        raise ConcurrentWriteConflictError(
            f"{qualified_name}: generation manifest kept naming a missing "
            "directory while acquiring a scan lease (8 attempts)"
        )

    def generations(self, qualified_name: str) -> list[dict]:
        """Admin introspection for the generational layout (the
        ``list_regions``-style surface applied to table versions): one
        entry per on-disk generation with its role (``current`` /
        ``previous`` / ``orphan`` — a crashed build awaiting sweep),
        file count, and exact footer row count.  O(files) driver-side
        metadata reads, zero Spark jobs."""
        spec = self.registry.get(qualified_name)
        root = self.table_root(spec)
        man = self._gen_manifest(root)
        roles = {man["current"]: "current"}
        if man.get("previous") is not None:
            roles[man["previous"]] = "previous"

        def entry_for(name: str, data_dir: str) -> dict:
            try:
                files = self._data_files(data_dir)
            except OSError:
                # swept by a concurrent writer between the root listing
                # and this walk — it no longer exists to report
                return None
            cached = self._load_span_stats(data_dir)
            try:
                rows = sum(
                    cached[f][2]
                    if f in cached
                    else self._footer_row_count_file(
                        os.path.join(data_dir, f)
                    )
                    for f in files
                )
            except Exception:
                # a crashed build can leave a truncated file in an
                # orphan generation — report it, don't die on it
                rows = None
            return {
                "generation": name,
                "role": roles.get(name, "orphan"),
                "n_files": len(files),
                "n_rows": rows,
            }

        out = []
        for entry in sorted(os.listdir(root)):
            full = os.path.join(root, entry)
            if os.path.isdir(full) and entry.startswith("gen-"):
                e = entry_for(entry, full)
                if e is not None:  # swept mid-walk: nothing to report
                    out.append(e)
        return out

    def read_via_datasource(self, qualified_name: str) -> DataFrame:
        """Scan through the ``keyedtable`` Python DataSource — region-
        aligned partitions + row-key pruning + pushdown in OUR code rather
        than the parquet reader's (the faithful A1 rebuild; ``read`` stays
        the default because Spark's native vectorized parquet scan is
        faster — same reasoning SURVEY §4 applies throughout)."""
        from spark_sql_hbase_spark.sources.keyed_datasource import (
            KeyedTableDataSource,
        )

        if not getattr(self.spark, "_keyedtable_registered", False):
            self.spark.dataSource.register(KeyedTableDataSource)
            self.spark._keyedtable_registered = True
        self.spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
        spec = self.registry.get(qualified_name)
        return (
            self.spark.read.format("keyedtable")
            .schema(spec.schema())
            .option("path", self.table_path(spec))
            .load()
        )

    @staticmethod
    def _prefix_upper_bound(prefix: str) -> str | None:
        """Smallest string greater than every string starting with
        ``prefix`` (the exclusive scan upper bound), or ``None`` when no
        such string exists (every code point is U+10FFFF).

        Correct successor arithmetic, not just ``last_char + 1``: a last
        code point of U+D7FF must step over the surrogate block (chr
        would produce an unpaired surrogate — unencodable to UTF-8, the
        scan would die at execution), and U+10FFFF has no successor at
        all so the increment CARRIES into the preceding character.
        Code-point order equals UTF-8 byte order (UTF-8 is
        order-preserving), so the bound is valid against Spark's binary
        string comparison.  Property-pinned by
        ``test_prefix_scan_equals_startswith`` over adversarial keys.
        """
        chars = list(prefix)
        while chars:
            cp = ord(chars[-1])
            if cp == 0x10FFFF:  # no successor at this position: carry
                chars.pop()
                continue
            nxt = 0xE000 if cp == 0xD7FF else cp + 1  # skip surrogates
            chars[-1] = chr(nxt)
            return "".join(chars)
        return None

    def scan_prefix(self, qualified_name: str, prefix: str) -> DataFrame:
        """HBase ``PrefixFilter`` / ``Scan.setRowPrefixFilter`` parity:
        all rows whose key starts with ``prefix``, as ONE contiguous
        key range ``[prefix, upper)`` — served by the sorted
        layout's row-group stats and region pruning (the A4 fast path),
        never a full scan + startswith residual.  A prefix with no
        string successor (all U+10FFFF) degenerates to the lower bound
        alone — any key ≥ such a prefix necessarily starts with it."""
        if not prefix:
            return self.read(qualified_name)
        upper = self._prefix_upper_bound(prefix)
        cond = F.col(ROW_KEY) >= prefix
        if upper is not None:
            cond = cond & (F.col(ROW_KEY) < upper)
        return self.read(qualified_name).filter(cond)

    def scan_page(
        self,
        qualified_name: str,
        page_size: int,
        after_key: str | None = None,
    ) -> DataFrame:
        """HBase scanner-paging parity (``Scan.setLimit`` + resumable
        ``withStartRow(lastKey, inclusive=false)`` — the
        scanner-caching/paging contract every HBase client loop uses):
        the next ``page_size`` rows in KEY ORDER strictly after
        ``after_key`` (``None`` = from the table start).  The caller
        resumes with the last key of the returned page — pagination by
        KEY, not OFFSET, so every page costs the same regardless of how
        deep the cursor is (an OFFSET pager re-scans and re-sorts the
        prefix every page).

        Plan shape: the ``row_key > after_key`` bound pushes into the
        parquet scan (footer stats skip every earlier region/file — the
        A4 fast path) and the sort+limit plans as a TakeOrdered top-k,
        never a global table sort (pinned in ``tests/test_plans.py``).

        The cursor is the ROW KEY.  On an unversioned table (one live
        row per key) a page is the next ``page_size`` ROWS.  On a
        VERSIONED table a page is the next ``page_size`` KEYS with ALL
        their version cells — pages close at KEY boundaries (r12
        VERDICT item 5), because a row-count boundary inside one key
        would silently drop its remaining cells (``row_key > cursor``
        skips them) and which cells land before the boundary is
        tie-order nondeterministic.  HBase parity: a scanner's
        ``setAllowPartialResults(false)`` default — rows are never
        split across RPC results.

        Plan shape (both modes): the page-closing key comes from a
        METADATA-PRUNED distinct (see :meth:`_page_boundary`: span
        manifests pick the minimal lo-ordered file prefix holding the
        next ``page_size`` keys, so the boundary scan reads O(page)
        rows however deep the cursor is — never a table-wide distinct
        or a TakeOrdered over every remaining file); the page itself
        reads with BOTH key bounds pushed into the parquet scan.  A
        page may close EARLY (fewer than ``page_size`` keys) at a
        file-span boundary — pages are never empty before the walk
        ends and never split a key, so the exhaustive-walk contract is
        unchanged."""
        if page_size <= 0:
            raise ValueError(f"page_size must be positive, got {page_size}")
        spec = self.registry.get(qualified_name)
        df = self.read(qualified_name)
        if after_key is not None:
            df = df.filter(F.col(ROW_KEY) > after_key)
        pruned = self._page_prune(spec, int(page_size), after_key)
        if self._table_prop(spec, "versions") is None:
            # Unversioned: keys are unique, so a plain TakeOrdered over
            # the page window IS the page — no boundary key, hence no
            # extra driver-blocking boundary job per page (r13 ADVICE).
            if pruned is None:
                # no usable span metadata: TakeOrdered over the
                # remaining rows was already correct here; the
                # full-scan boundary would only ADD an exchange and a
                # job per page (r13 ADVICE)
                return df.orderBy(ROW_KEY).limit(int(page_size))
            prefix, cap = pruned
            if not prefix:  # walk exhausted — empty page ends it
                return df.filter(F.lit(False))
            window = self._page_window(spec, prefix, after_key, cap)
            return window.orderBy(ROW_KEY).limit(int(page_size))
        boundary = self._page_boundary(spec, df, int(page_size), after_key, pruned)
        if boundary is None:  # walk exhausted — empty page ends it
            return df.filter(F.lit(False))
        return df.filter(F.col(ROW_KEY) <= boundary).orderBy(ROW_KEY)

    def _page_prune(self, spec: TableSpec, page_size: int, after_key):
        """Metadata pruning for one scanner page (r13 review fix — a
        per-page table-wide scan would make an exhaustive walk
        O(pages × remaining)): with exact span stats, files sorted by
        span ``lo`` past the cursor form a key-ordered sequence — every
        file straddling the cursor plus the minimal lo-prefix whose
        cumulative row count reaches ``page_size``, read with keys
        capped STRICTLY below the first excluded file's ``lo``, holds a
        COMPLETE prefix of the remaining distinct keys (later files
        start at or above the cap; earlier files hold nothing past the
        cursor).  Returns ``(prefix_files, cap)`` — ``([], None)``
        when no file may hold a key past the cursor (walk exhausted) —
        or ``None`` when pruning is unusable: metadata missing, any
        candidate without exact span stats, or the duplicate-``lo``
        edge where the cap could empty the window (the first included
        non-straddler's ``lo`` must fall strictly below the cap for the
        window to be provably non-empty).  Pruning can be skipped,
        never wrong."""
        path = self.table_path(spec)
        if not self._point_read_metadata_available(path):
            return None
        try:
            stats: dict = {}
            cands = self._span_candidates(path, after_key, None, stats=stats)
            if not all(
                stats.get(f) is not None and stats[f][3] for f in cands
            ):
                return None
            ordered = sorted(cands, key=lambda f: stats[f][0])
            # one-pass split on the sorted lo (r13 review: a
            # list-membership partition was O(files^2) per page)
            straddlers, rest = [], []
            for f in ordered:
                if after_key is not None and stats[f][0] <= after_key:
                    straddlers.append(f)
                else:
                    rest.append(f)
            prefix, cap, cum = list(straddlers), None, 0
            for i, f in enumerate(rest):
                prefix.append(f)
                cum += stats[f][2]
                if cum >= page_size:
                    if i + 1 < len(rest):
                        cap = stats[rest[i + 1]][0]
                    break
            if cap is not None and not stats[rest[0]][0] < cap:
                return None  # duplicate-lo edge: window may be empty
            return prefix, cap
        except Exception:
            return None  # metadata trouble — full-scan fallback

    def _page_window(self, spec: TableSpec, prefix, after_key, cap):
        """The pruned page window: the prefix files' rows with both the
        cursor bound and the cap pushed into the parquet scan — O(page)
        rows however deep the cursor is."""
        path = self.table_path(spec)
        cond = F.lit(True)
        if after_key is not None:
            cond = F.col(ROW_KEY) > after_key
        if cap is not None:
            cond = cond & (F.col(ROW_KEY) < F.lit(cap))
        return (
            self.spark.read.schema(spec.schema())
            .parquet(*[os.path.join(path, f) for f in prefix])
            .filter(cond)
        )

    def _page_boundary(
        self,
        spec: TableSpec,
        remaining: DataFrame,
        page_size: int,
        after_key,
        pruned,
    ):
        """The VERSIONED page's closing key: the ``page_size``-th
        distinct row key strictly after ``after_key`` (or the last
        remaining key; ``None`` when the walk is exhausted) — versioned
        pages must close at KEY boundaries so no key's cells are split,
        which is why this mode pays a boundary lookup per page at all
        (the unversioned path reads its page in one pass from the same
        pruning, with no boundary job — r13 ADVICE).

        ``pruned``: the precomputed :meth:`_page_prune` result.  When
        usable, the distinct runs over only the O(page) pruned window;
        the cap may close the page short of ``page_size`` keys — sound,
        documented in :meth:`scan_page`.  Otherwise the boundary comes
        from the full remaining scan: pruning can be skipped, never
        wrong."""
        if pruned is not None:
            prefix, cap = pruned
            if not prefix:
                return None  # no file may hold a key past the cursor
            b = (
                self._page_window(spec, prefix, after_key, cap)
                .select(ROW_KEY)
                .distinct()
                .orderBy(ROW_KEY)
                .limit(page_size)
                .agg(F.max(ROW_KEY).alias("b"))
                .first()["b"]
            )
            if b is not None:
                return b
            # exact-stats candidates each hold a key past the cursor
            # and _page_prune rejects cap-emptiable windows, so an
            # empty window means nothing remains anywhere
            return None
        return (
            remaining.select(ROW_KEY)
            .distinct()
            .orderBy(ROW_KEY)
            .limit(page_size)
            .agg(F.max(ROW_KEY).alias("b"))
            .first()["b"]
        )

    def get(self, qualified_name: str, keys: list[str]) -> DataFrame:
        """HBase multi-``Get`` parity: the rows for an explicit key
        list, as one ``isin`` predicate — pushed to the parquet scan
        (the A11 point-lookup path the pushdown matrix pins).  At scale
        a large key list should ride a broadcast semi-join instead;
        this is the small-batch point-read convenience.

        On a table with ``bloomfilter ROW`` sidecars (see
        :meth:`build_bloom_filters`), the scan is planned over ONLY the
        files that pass span pruning AND whose per-file row-key Bloom
        filter may contain one of the keys — the HBase ``Get``-skips-
        HFiles-via-bloom-block fast path.  A file without a sidecar
        stays a candidate, a malformed sidecar reads as absent, and an
        unreadable data-file footer degrades to the plain full-table
        ``isin`` scan (the filter is a cache, never a correctness
        dependency)."""
        keys = list(keys)
        cond = F.col(ROW_KEY).isin(keys)
        spec = self.registry.get(qualified_name)
        path = self.table_path(spec)
        if keys and self._point_read_metadata_available(path):
            # per-key span membership prunes even WITHOUT sidecars (a
            # file whose exact span contains no key can't match); the
            # Bloom probe then runs only where a sidecar exists.  The
            # availability gate keeps generations without span metadata
            # (create_table's empty generation, a failed manifest write)
            # on the one distributed scan instead of O(files) serial
            # driver-side footer opens
            try:
                span = (min(keys), max(keys))
            except TypeError:
                span = (None, None)  # incomparable keys: no span bound
            try:
                cands = self._candidate_files(spec, path, span, keys)
            except (OSError, ValueError, RuntimeError):
                # a damaged or foreign data file's footer (unreadable,
                # ArrowInvalid, no row_key column): the full scan plans
                # without footers; any other error is a bug and surfaces
                cands = None
            if cands is not None:
                if not cands:
                    return self.spark.createDataFrame([], spec.schema())
                return (
                    self.spark.read.schema(spec.schema())
                    .parquet(*[os.path.join(path, f) for f in cands])
                    .filter(cond)
                )
        return self.read(qualified_name).filter(cond)

    @staticmethod
    def _point_read_metadata_available(path: str) -> bool:
        """True when driver-side point planning is CHEAP for this
        generation: a span manifest (or append sidecars) serves the
        stats in one JSON read, or Bloom sidecars exist (written by the
        same machinery that writes the manifest, so stats ride along).
        Without either, per-file stats would mean O(files) serial
        parquet footer opens on the driver — worse than the one
        distributed scan the fallback plans."""
        if os.path.isdir(os.path.join(path, _bloom.BLOOM_DIR)):
            return True
        try:
            return any(
                f == _SPAN_MANIFEST
                or (f.startswith("_spans-") and f.endswith(".json"))
                for f in os.listdir(path)
            )
        except OSError:
            return False

    def _candidate_files(
        self,
        spec: TableSpec,
        path: str,
        span: tuple | None,
        keys=None,
        stats: dict | None = None,
    ) -> list[str]:
        """Stage 1 of every keyed DML (and of :meth:`get`): the files of
        generation ``path`` that may hold a row the operation touches.
        ``span`` is the provable ``(lo, hi)`` row-key interval (``None``
        = unconstrained: the whole generation, nothing pruned); ``keys``
        the exact probe points when the caller knows them (a degenerate
        ``lo == hi`` span supplies its one point itself).

        Three passes: :meth:`_span_candidates` drops files whose footer
        range misses ``[lo, hi]``; then each file keeps only the keys
        inside its exact span (an empty in-span set drops the file
        outright, and an out-of-span key can't turn it into a false
        positive); then, when the generation has ``_bloom`` sidecars,
        the per-file row-key Bloom filter drops files that provably
        hold none of those keys — a point mutation locates over ~1 file
        however many appended runs span the key space.  Point sets over
        ``_BLOOM_MERGE_PROBE_MAX`` keys skip the last two passes.  Sound
        throughout: incomparable key types, missing or malformed
        sidecars, and probe values Spark would COERCE to the key type
        (``bloom.probe_type``) keep the file.  ``stats`` (optional)
        collects the footer stats of every probed file for the caller's
        rewrite."""
        if span is None:
            return self._data_files(path)
        stats = {} if stats is None else stats
        lo, hi = span
        files = self._span_candidates(path, lo, hi, stats=stats)
        if keys is None and lo is not None and lo == hi:
            keys = [lo]
        if not files or not keys or len(keys) > self._BLOOM_MERGE_PROBE_MAX:
            return files
        probe = os.path.isdir(os.path.join(path, _bloom.BLOOM_DIR))
        out = []
        for fname in files:
            f_lo, f_hi, _rows, exact = stats[fname]
            in_span = keys
            if exact and f_lo is not None and f_hi is not None:
                try:
                    in_span = [v for v in keys if f_lo <= v <= f_hi]
                except TypeError:
                    in_span = keys
                if not in_span:
                    continue
            if not probe or _bloom.file_survives_point_sets(
                path, fname, [in_span], spec.key_type
            ):
                out.append(fname)
        return out

    def refresh(self, qualified_name: str) -> None:
        """Invalidate cached file listings/metadata (reference:
        ``refreshTable`` after insert, ``InsertIntoHBaseTable.scala:110``)."""
        spec = self.registry.get(qualified_name)
        # refresh by the ROOT: invalidates cached listings for every
        # generation under it, including the one a swap just retired
        self.spark.catalog.refreshByPath(self.table_root(spec))
        self._register_view(spec)

    # -- write path (A5/A6/A10) -------------------------------------------
    def insert(
        self,
        qualified_name: str,
        df: DataFrame,
        overwrite: bool = False,
        generate_row_key: bool | None = None,
        maintain_indexes: bool = True,
    ) -> None:
        """INSERT INTO with pluggable row-key generation.

        Mirrors ``InsertIntoHBaseTable.run`` (reference
        ``execution/InsertIntoHBaseTable.scala:54-117``): resolve the
        table's generator, produce keys, write key-sorted batches, refresh
        catalog metadata. The reference writes 1000-``Put`` batches to
        RegionServers; we write range-partitioned sorted parquet — the
        HFile bulk-load path (A10) rather than the RPC path, which is the
        scan-optimal layout.

        ``generate_row_key=None`` auto-detects: generate iff the input has
        no ``row_key`` column OR the table declares a generator (the
        reference's default generator *always* overrides user-supplied
        keys — ``README.md:66``).

        Registered covered indexes stay fresh through the commit tail,
        :meth:`_commit` (one attempt, no retry): an APPEND insert
        appends the index projection of exactly the inserted batch
        (O(batch), the same delta-maintenance the streaming dual-write
        performs), an OVERWRITE insert triggers a full rebuild.
        ``maintain_indexes=False`` is for callers that manage the index
        themselves (the dual-write sink, and the index-append recursion
        itself); such an insert bypasses the commit tail.
        """
        from spark_sql_hbase_spark.functions.rowkey import resolve

        spec = self.registry.get(qualified_name)
        path = self.table_path(spec)

        if generate_row_key is None:
            generate_row_key = spec.generator is not None or ROW_KEY not in df.columns
        if generate_row_key:
            gen = resolve(spec.generator)
            start_at = 0
            if not overwrite and spec.generator in (None, "sequence", "default"):
                # continue the dense sequence from the current max key
                existing = self.read(qualified_name)
                row = existing.agg(F.max(ROW_KEY)).collect()[0][0]
                start_at = int(row) if row is not None else 0
            df = gen(df.drop(ROW_KEY) if ROW_KEY in df.columns else df, start_at=start_at)

        # conform column order/types to the declared schema
        schema = spec.schema()
        cols = [F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
        out = df.select(*cols)

        if maintain_indexes and not overwrite and self.registered_indexes(
            qualified_name
        ):
            # pin the batch: row-key generators are nondeterministic on
            # re-evaluation, and the SAME rows must feed the table write
            # and the index append (batch-sized, not table-sized)
            out = out.localCheckpoint(eager=True)

        # "regions": range-partition by key; "HFiles": sort within partition
        ranged = self._region_layout(spec, out)

        def attempt() -> tuple:
            if overwrite:
                # full-table replacement rides the same staged
                # generation swap as every other rewrite — a crash
                # mid-write must not destroy the previous table state
                self._swap_table_dir(
                    spec,
                    lambda staging: self._writer(ranged, spec)
                    .mode("overwrite").parquet(staging),
                )
                return None, True, None
            # append = write the new sorted run OUTSIDE any generation,
            # then hardlink it into the CURRENT generation under the
            # per-table writer lock.  Generation flips take the same
            # lock, so an append can never land in a just-retired
            # directory (where a concurrent rewrite's carry listing
            # would silently drop it) — the Spark write happens
            # unlocked; only the instant link-in is serialized.  The
            # index delta appends the batch's projections, dropping
            # nothing.
            parts = self._append_run(spec, ranged)
            self.refresh(qualified_name)
            return None, bool(parts), (None, None, out, True)

        if maintain_indexes:
            self._commit(qualified_name, attempt, attempts=1)
        else:
            attempt()
        if not overwrite:
            self._maybe_auto_minor_compact(spec)
            self._maybe_auto_split(spec)

    def _append_run(self, spec: TableSpec, ranged: DataFrame) -> list[str]:
        """Write ``ranged`` as a new sorted run in a private staging
        directory and link its non-empty parts (span manifest entries
        and Bloom sidecars with them) into the table's current
        generation under the writer lock; returns the linked parts."""
        root = self.table_root(spec)
        tmp = os.path.join(root, f".append-{uuid.uuid4().hex[:12]}")
        try:
            # the flock-held ``.writing`` marker keeps a concurrent
            # writer's sweep off the staging for the WHOLE write —
            # Spark only renames part files into ``tmp`` at task
            # commit, so the directory's mtime is NOT a liveness
            # signal while a long write is in flight
            with self._marker_guard(tmp + ".writing"):
                self._writer(ranged, spec).mode("overwrite").parquet(tmp)
                parts = [f for f in os.listdir(tmp) if f.endswith(".parquet")]
                # footer stats of the freshly written parts, read
                # OUTSIDE the lock (same inodes the links share) — the
                # sidecar keeps the generation's span manifest covering
                # appended files too; what a damaged or foreign footer
                # raises leaves its part uncovered
                part_stats = {}
                for fname in parts:
                    try:
                        part_stats[fname] = self._footer_key_stats(
                            os.path.join(tmp, fname)
                        )
                    except (OSError, ValueError, RuntimeError):
                        continue  # cache construction never fails a write
                # drop zero-row parts before anything links them in:
                # the declared-split layout writes one partition per
                # region, and Spark emits an empty file for an empty
                # region that precedes a populated one — linking those
                # would leak one noise file per append (an all-empty
                # batch appends nothing: a no-op)
                empty = {f for f, s in part_stats.items() if s[2] == 0}
                if empty:
                    parts = [f for f in parts if f not in empty]
                    part_stats = {
                        f: s for f, s in part_stats.items() if f not in empty
                    }
                rows_by_file = {f: s[2] for f, s in part_stats.items()}
                if self._bloom_enabled(spec):
                    # Bloom sidecars for the appended parts, built
                    # OUTSIDE the lock against the staging inodes (the
                    # link-in below carries them by name)
                    try:
                        self._build_bloom_files(
                            spec, tmp, parts, rows_by_file=rows_by_file
                        )
                    except Exception:
                        pass  # cache only — never fail the append
                if self._srckey_bloom_enabled(spec):
                    # index tables: src-key sidecars for the appended
                    # entries, same staging discipline
                    try:
                        self._build_bloom_files(
                            spec, tmp, parts, rows_by_file=rows_by_file,
                            column="i:src_key", subdir=_bloom.SRCKEY_DIR,
                        )
                    except Exception:
                        pass  # cache only — never fail the append
                with self._table_write_lock(root):
                    path_now = self.table_path(spec)
                    for fname in parts:
                        self._link_or_copy(
                            os.path.join(tmp, fname),
                            os.path.join(path_now, fname),
                        )
                    # under the SAME lock as the link-in so the sidecar
                    # lands in the same generation the files did (a
                    # flip between the two would orphan it — sound, but
                    # the files would fall back to live footer reads)
                    self._write_span_sidecar(path_now, part_stats)
                    self._maybe_merge_span_sidecars(path_now)
                    try:
                        self._carry_bloom_sidecars(tmp, path_now, parts)
                    except OSError:
                        pass  # cache only
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        return parts

    def _maybe_auto_split(self, spec: TableSpec) -> None:
        """HBase splits a region AUTOMATICALLY when it outgrows
        ``hbase.hregion.max.filesize`` (``ConstantSizeRegionSplitPolicy``
        — the split point is the storefile index's midkey); a pre-split
        table whose declared boundaries never move silently funnels a
        growing keyspace into one hot region.  With the table property
        ``REGION_MAX_BYTES => n`` set on a DECLARED-SPLIT table, an
        append that leaves any region's data files totalling > n bytes
        triggers :meth:`split_region` at the region's metadata midkey.

        Cost model — METADATA ONLY, exactly HBase's (the midkey comes
        from the storefile's block index, never a data scan): the
        oversized-region check is driver-side (span stats route each
        region-confined file to its region, one ``getsize`` per file),
        and the split point comes from the region files' row-group
        footer stats (:meth:`_metadata_midkey` — the parquet row group
        IS the HFile block for this purpose).  No Spark job runs; the
        split rewrite then touches only that region's bytes.  A region
        whose metadata exposes no interior boundary (one row group
        spanning all keys, or all keys equal) skips — HBase likewise
        cannot split inside a single block.  Setting the property on an
        undeclared
        table raises loudly — sampled layouts re-fan-out through
        ``compact(target_region_bytes=...)`` instead (house rule: a
        silently ignored attribute is a trap)."""
        prop = self._table_prop(spec, "region.max.bytes") or \
            self._table_prop(spec, "region_max_bytes")
        if prop is None:
            return
        try:
            max_bytes = int(prop)
        except ValueError:
            raise ValueError(
                f"{spec.qualified_name}: REGION_MAX_BYTES must be an "
                f"integer, got {prop!r}"
            ) from None
        if max_bytes <= 0:
            raise ValueError(
                f"{spec.qualified_name}: REGION_MAX_BYTES must be > 0, "
                f"got {max_bytes}"
            )
        if not spec.split_keys:
            raise ValueError(
                f"{spec.qualified_name}: REGION_MAX_BYTES requires declared "
                "split keys (pre-split table); use "
                "compact(target_region_bytes=...) for sampled layouts"
            )
        bounds = self._declared_split_bounds(spec)
        path = self.table_path(spec)
        cached = self._load_span_stats(path)
        region_bytes: dict[int, int] = {}
        region_files: dict[int, list[str]] = {}
        for fname in self._data_files(path):
            full = os.path.join(path, fname)
            rec = cached.get(fname)
            if rec is not None and rec[3]:
                lo, rows = rec[0], rec[2]
            else:
                lo, _hi, rows = self._file_key_range(full)
            if not rows or lo is None:
                continue
            region = sum(1 for b in bounds if lo >= b)
            region_bytes[region] = region_bytes.get(region, 0) + \
                os.path.getsize(full)
            region_files.setdefault(region, []).append(full)
        for region, nbytes in sorted(region_bytes.items()):
            if nbytes <= max_bytes:
                continue
            mid = self._metadata_midkey(region_files[region])
            if mid is None:
                continue  # degenerate key distribution: cannot split
            try:
                self.split_region(spec.qualified_name, mid)
            except ValueError:
                # the boundary is ALREADY declared: a concurrent writer
                # genuinely restructured the table at the same median —
                # its split covers ours, nothing to surface
                pass
            except ConcurrentWriteConflictError:
                # OUR rewrite lost the CAS race past its retries;
                # split_region rolled the declaration back, so the
                # confinement invariant holds — but the region is still
                # oversized, so surface it (the next append retriggers)
                logger.warning(
                    "%s: auto-split at %r abandoned after write-conflict "
                    "retries (declaration rolled back); region %d remains "
                    "over REGION_MAX_BYTES and will retry on the next "
                    "append",
                    spec.qualified_name, mid, region,
                )

    @classmethod
    def _metadata_midkey(cls, files: list[str]):
        """The region's split point from FOOTER metadata alone — the
        HBase ``HFile.midkey()`` analogue (``HFileBlockIndex``: the
        block whose cumulative size crosses half, no data read; here
        the parquet ROW GROUP is the block).  Candidates are row-group
        MIN keys: a parquet min stat is truncated DOWNWARD when
        truncated at all, so a candidate is always ≤ a real key in its
        row group — the upper half of the split can never be empty.
        The candidate requiring ≥1 row group wholly below (max stat —
        truncated UPWARD — strictly under it) guarantees the lower half
        non-empty.  Among valid candidates, the one whose estimated
        below-count (full row groups + half of straddlers) is closest
        to half the region's rows wins.  Returns ``None`` when the
        metadata exposes no interior boundary (single row group, or
        every row group starting at the region's first key) — the
        region is unsplittable at block granularity, as in HBase.

        Resolution note: at real scale a hot region holds many files ×
        many ~128 MB row groups, so the midkey lands within one block
        of the true median; tiny single-row-group regions simply wait
        for more data, they never pay a sorted scan."""
        units: list[tuple] = []  # (lo_bound, hi_bound, rows) per row group
        for full in files:
            try:
                units.extend(cls._footer_rowgroup_units(full))
            except Exception:
                # unreadable footer: no metadata, no split this round —
                # never fall back to a data scan on the hot path
                return None
        units = [u for u in units if u[2]]
        total = sum(u[2] for u in units)
        if total < 2:
            return None
        best = None  # (imbalance, candidate)
        for cand, _hi, _rows in units:
            if cand is None:
                continue
            below = 0.0
            has_floor = False
            ok = True
            for lo, hi, rows in units:
                try:
                    if hi is not None and hi < cand:
                        below += rows
                        has_floor = True
                    elif lo is None or lo < cand:
                        below += rows / 2.0  # straddler (or unknown lo)
                except TypeError:
                    ok = False  # mixed stat types: not comparable
                    break
            if not ok or not has_floor:
                continue
            imbalance = abs(below - total / 2.0)
            if best is None or imbalance < best[0]:
                best = (imbalance, cand)
        if best is not None:
            return best[1]
        # no block boundary in the interior (e.g. every file spans the
        # whole region): interpolate the key-range midpoint — HBase's
        # UniformSplit/HexStringSplit assumption (RegionSplitter picks
        # byte-space midpoints without reading data).  A skewed key
        # distribution splits unevenly ONCE; the oversized half
        # re-triggers on its next append, so the layout converges
        # without ever scanning.
        los = [u[0] for u in units if u[0] is not None]
        his = [u[1] for u in units if u[1] is not None]
        if not los or not his:
            return None
        try:
            # min/max inside the guard too: mixed stat types across
            # files (schema drift) must mean "no split this round",
            # never a failed append
            lo, hi = min(los), max(his)
            if isinstance(lo, str):
                return cls._string_midpoint(lo, hi)
            mid = lo + (hi - lo) // 2 if isinstance(lo, int) else (
                lo + (hi - lo) / 2
            )
            return mid if mid > lo else None
        except TypeError:
            return None

    @staticmethod
    def _string_midpoint(lo: str, hi: str):
        """A string strictly greater than ``lo`` and at most ``hi``,
        near the code-point-space middle (UTF-8 byte order and Python
        code-point order agree, so the boundary partitions identically
        on both sides of the engine).  After the common prefix, the
        first differing position takes the midpoint code point; when
        the code points are ADJACENT (no room), the boundary descends
        one character into ``lo``'s side and extends — still a valid
        interior boundary, just less central.  Surrogate code points
        (unencodable as UTF-8) are stepped over.  Returns ``None`` when
        ``lo >= hi`` (nothing strictly between)."""
        if lo >= hi:
            return None
        i = 0
        while i < min(len(lo), len(hi)) and lo[i] == hi[i]:
            i += 1
        prefix = lo[:i]
        lo_c = ord(lo[i]) if i < len(lo) else -1  # "" sorts below any char
        hi_c = ord(hi[i])  # hi > lo with this prefix ⇒ hi has a char here
        mid_c = (lo_c + hi_c) // 2
        if 0xD800 <= mid_c <= 0xDFFF:  # lone surrogate: not UTF-8
            mid_c = 0xD7FF if lo_c < 0xD7FF else 0xE000
        if lo_c < mid_c < hi_c:
            return prefix + chr(mid_c)
        # adjacent code points: any extension of lo's next char sorts
        # strictly between lo and hi
        cand = lo[: i + 1] + "\x7f" if lo_c >= 0 else prefix + chr(0)
        return cand if lo < cand <= hi else None

    @staticmethod
    def _footer_rowgroup_units(full: str) -> list[tuple]:
        """Per-ROW-GROUP ``(min_key, max_key, n_rows)`` from the
        parquet footer — the block-granularity sibling of
        :meth:`_footer_key_stats` (same decode rules: bytes stats
        decode to str; a stat truncated mid-multibyte-sequence or
        absent yields ``None`` bounds for that row group, which
        midkey estimation treats as a straddler)."""
        import pyarrow.parquet as pq

        md = pq.read_metadata(full)
        if md.num_rows == 0 or md.num_row_groups == 0:
            return []
        idx = next(
            (
                c
                for c in range(md.num_columns)
                if md.row_group(0).column(c).path_in_schema == ROW_KEY
            ),
            None,
        )
        if idx is None:
            raise RuntimeError(
                f"no {ROW_KEY!r} column in {os.path.basename(full)} — "
                "foreign file in the table directory or schema drift"
            )
        units: list[tuple] = []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(idx)
            rows = md.row_group(rg).num_rows
            st = col.statistics
            if st is None or not st.has_min_max:
                units.append((None, None, rows))
                continue
            mn, mx = st.min, st.max
            if isinstance(mn, bytes):
                try:
                    mn = mn.decode()
                except UnicodeDecodeError:
                    mn = None  # truncated mid-multibyte: unusable bound
                try:
                    mx = mx.decode()
                except UnicodeDecodeError:
                    mx = None
            units.append((mn, mx, rows))
        return units

    def _maybe_auto_minor_compact(self, spec: TableSpec) -> None:
        """HBase runs minor compactions AUTOMATICALLY when a store
        accumulates ``hbase.hstore.compactionThreshold`` files; a store
        that only compacts on demand silently degrades under sustained
        append ingest (every appended run is another scan unit and
        span/Bloom probe).  With the table property
        ``COMPACTION_THRESHOLD => N`` set, an append that leaves the
        current generation holding ≥ N data files triggers
        :meth:`compact_minor` — small runs fold into one, large files
        hardlink-carry, so the cleanup I/O is O(small tail) per
        trigger and file counts stay bounded without an operator in
        the loop.  Applies to index tables too (their per-DML
        projection appends are exactly the small-file source).  A
        concurrent writer winning the race is fine — the work it did
        is the work we wanted.  An unparseable threshold raises
        loudly: a silently ignored retention/compaction property is a
        trap (house rule, same as BLOOMFILTER)."""
        prop = self._table_prop(spec, "compaction.threshold") or \
            self._table_prop(spec, "compaction_threshold")
        if prop is None:
            return
        try:
            threshold = int(prop)
        except ValueError:
            raise ValueError(
                f"{spec.qualified_name}: COMPACTION_THRESHOLD must be an "
                f"integer, got {prop!r}"
            ) from None
        if threshold < 2:
            raise ValueError(
                f"{spec.qualified_name}: COMPACTION_THRESHOLD must be >= 2, "
                f"got {threshold}"
            )
        try:
            if len(self._data_files(self.table_path(spec))) >= threshold:
                self.compact_minor(spec.qualified_name)
        except ConcurrentWriteConflictError:
            pass  # a concurrent writer compacted/committed: already done

    def ctas(self, spec: TableSpec, query: DataFrame, mode: str = "error") -> None:
        """CREATE TABLE AS SELECT with SaveMode + drop-on-failure semantics
        (reference: ``CreateHBaseTableAsSelectCommand.scala:18-88``)."""
        existed = self.registry.exists(spec.qualified_name)
        if existed:
            if mode == "error":
                raise TableAlreadyExistsError(spec.qualified_name)
            if mode == "ignore":
                return
        else:
            self.create_table(spec)
        try:
            self.insert(spec.qualified_name, query, overwrite=(mode == "overwrite"))
        except Exception:
            if not existed:
                self.drop_table(spec.qualified_name)  # drop-on-failure
            raise

    # -- secondary index (Phoenix-style covered index) --------------------
    def create_covered_index(
        self,
        qualified_name: str,
        index_qualified_name: str,
        index_col: str,
        include: list[str] | None = None,
        key_width: int = 12,
        mode: str = "error",
        fixed_point_scale: int | None = None,
    ) -> None:
        """Phoenix-style GLOBAL COVERED secondary index (public Apache
        Phoenix design): a second keyed table whose row key is the
        indexed VALUE (zero-padded, stringified) concatenated with the
        primary row key (for uniqueness), carrying the covered columns —
        so a value-predicate query is answered by an index-only RANGE
        scan (key-sorted layout + region pruning, the A4 fast path)
        without ever touching the main table.

        The reference engine indexes only the row key; HBase deployments
        add value-column access via Phoenix global indexes — this is that
        extension on the keyed store.  Consistency contract: the index is
        REGISTERED on the main table (a table property), and every write
        that changes the main table's rows (:meth:`insert`,
        :meth:`upsert`, :meth:`delete_where`, :meth:`update_where`, the
        other DML entry points, truncate, restore and changefeed replay)
        maintains it in the same call, through the commit tail
        :meth:`_commit` — by delta for a small change, by rebuild
        otherwise.  Until that maintenance completes the index reads
        STALE (:meth:`index_is_stale`); :meth:`rebuild_indexes` catches
        up after a failed one.  Streaming ingest keeps it fresh by
        dual-write (``write_stream_with_index_maintenance``).
        Scale: the index build is one range-partitioned key-sorted write
        (same cost class as compaction); the read path replaces a full
        main-table scan + filter with an index range scan bounded by the
        predicate's key range.

        Key encodings by declared column type (order-correct by
        construction, each guarded at build time and per streamed batch):

        - **integral** (byte/short/int/long): ``lpad(value)|src_key`` —
          lexicographic == numeric for non-negative, in-width values
          (the width/negativity guard enforces both).
        - **fractional** (float/double/decimal): REQUIRES
          ``fixed_point_scale`` — the key is
          ``lpad(round(value*scale))|src_key``, an order-preserving
          fixed-point encoding (round is monotone, so a range scan on
          the scaled bounds is a sound superset; re-apply the exact
          predicate on the carried value column as the residual, the
          same law the Z-order scan uses).  Without a scale the build
          fails loudly: '1.25' vs '1.5' sorts lexicographically !=
          numerically and would silently corrupt range scans.
        - **string** (char/varchar): ``value\\x01src_key`` — the \\x01
          separator sorts below every data character, so the composite
          order equals the (value, src_key) order; values containing
          \\x00/\\x01 are rejected by the guard.  Point/prefix lookups
          become index key-prefix ranges (:meth:`index_lookup`).
        """
        main_spec = self.registry.get(qualified_name)
        cf, qual = index_col.split(COLUMN_QUALIFIER_SPLITTER, 1)
        declared = main_spec.families[cf][qual].lower()
        encoding, scale = self._index_encoding_for(
            index_col, declared, fixed_point_scale
        )
        covered = list(include or [])
        ns, iname = index_qualified_name.split(".", 1)
        fams: dict[str, dict[str, str]] = {"i": {"src_key": "string"}}
        for c in [index_col] + covered:
            ccf, cq = c.split(COLUMN_QUALIFIER_SPLITTER, 1)
            fams.setdefault(ccf, {})[cq] = main_spec.families[ccf][cq]
        spec = TableSpec(
            namespace=ns, name=iname, key_type="string", families=fams
        )
        meta = {
            "col": index_col,
            "include": covered,
            "key_width": key_width,
            "encoding": encoding,
            "scale": scale,
        }
        main = self.read(qualified_name)
        self._index_width_guard(main, index_col, key_width, encoding, scale)
        proj = self.index_projection(
            main, index_col, covered, key_width, encoding, scale
        )
        self.ctas(spec, proj, mode=mode)
        # register the index on the main table so DML maintains it, and
        # on the index itself so lookups are self-describing
        main_spec.properties[f"{_INDEX_PROP}{index_qualified_name}"] = json.dumps(meta)
        self.registry.register(main_spec)
        ispec = self.registry.get(index_qualified_name)
        ispec.properties["index_meta"] = json.dumps(meta)
        self.registry.register(ispec)

    @staticmethod
    def _index_encoding_for(
        index_col: str, declared: str, fixed_point_scale: int | None
    ) -> tuple[str, int | None]:
        """Pick the order-preserving key encoding for a declared column
        type; raise for types with no such encoding here."""
        if declared in _INTEGRAL_INDEX_TYPES:
            return "int", None
        if declared in ("float", "real", "double") or declared.startswith(
            "decimal"
        ):
            if not fixed_point_scale or fixed_point_scale < 1:
                raise ValueError(
                    f"covered index on {index_col!r} ({declared}): fractional "
                    "values sort lexicographically != numerically under the "
                    "lpad encoding; pass fixed_point_scale=N to index "
                    "round(value*N) order-preservingly (re-apply the exact "
                    "predicate on the carried value column as the residual)"
                )
            return "int", int(fixed_point_scale)
        if declared in ("string",) or declared.startswith(("char", "varchar")):
            return "str", None
        raise ValueError(
            f"covered index on {index_col!r}: no order-preserving key "
            f"encoding for declared type {declared!r} (supported: integral, "
            "fractional with fixed_point_scale, string)"
        )

    _STR_SEP = "\x01"  # sorts below every data char the guard admits

    @staticmethod
    def _index_key_value_expr(
        index_col: str, encoding: str, scale: int | None
    ) -> "F.Column":
        """The (possibly fixed-point-scaled) value the index key encodes."""
        col = F.col(f"`{index_col}`")
        if encoding == "int" and scale:
            return F.round(col * scale).cast("long")
        return col

    @staticmethod
    def index_projection(
        rows: DataFrame,
        index_col: str,
        covered: list[str],
        key_width: int,
        encoding: str = "int",
        scale: int | None = None,
        guard: bool = False,
    ) -> DataFrame:
        """The covered-index row derivation shared by the CTAS build,
        batch-DML maintenance, and the streaming dual-write path: index
        row key = encoded(value) + separator + primary_key, plus the
        source key and covered columns.  ONE definition so build and
        maintenance can never drift.

        ``guard=True`` folds the width/negativity (or control-char)
        check into the key expression itself — any violating row raises
        DURING the projection scan instead of requiring a separate
        guard aggregate over the input (the DML maintenance path uses
        this so a rebuild costs exactly one scan)."""
        v = KeyedTableStore._index_key_value_expr(index_col, encoding, scale)
        if encoding == "str":
            ik = F.concat(v, F.lit(KeyedTableStore._STR_SEP), F.col(ROW_KEY))
            if guard:
                ok = ~v.rlike("[\x00\x01]")
                ik = F.when(ok | v.isNull(), ik).otherwise(
                    F.raise_error(
                        F.concat(
                            F.lit("index value contains \\x00/\\x01: "), v
                        )
                    )
                )
        else:
            vs = v.cast("string")
            ik = F.concat(
                F.lpad(vs, key_width, "0"), F.lit("|"), F.col(ROW_KEY)
            )
            if guard:
                ok = (F.length(vs) <= key_width) & ~vs.startswith("-")
                ik = F.when(ok | vs.isNull(), ik).otherwise(
                    F.raise_error(
                        F.concat(
                            F.lit(
                                f"index value over key_width={key_width} "
                                "or negative: "
                            ),
                            vs,
                        )
                    )
                )
        return rows.select(
            ik.alias(ROW_KEY),
            F.col(ROW_KEY).alias("i:src_key"),
            *[F.col(f"`{c}`").alias(c) for c in [index_col] + covered],
        )

    @staticmethod
    def _index_width_guard(
        rows: DataFrame,
        index_col: str,
        key_width: int,
        encoding: str = "int",
        scale: int | None = None,
    ) -> None:
        if encoding == "str":
            # the \x01 separator must sort below every data character —
            # \x00/\x01 inside values would corrupt the composite order
            bad = rows.agg(
                F.max(
                    F.col(f"`{index_col}`").rlike("[\x00\x01]").cast("int")
                ).alias("b")
            ).collect()[0]["b"]
            if bad:
                raise ValueError(
                    "string index values contain \\x00/\\x01 control "
                    "characters, which collide with the key separator"
                )
            return
        # lpad TRUNCATES strings longer than the pad width, which would
        # silently collide distinct index values into one key prefix (and
        # a leading '-' breaks lexicographic order outright) — reject
        # both up front; one bounded aggregate over the input
        v = KeyedTableStore._index_key_value_expr(index_col, encoding, scale)
        probe = rows.agg(
            F.max(F.length(v.cast("string"))).alias("w"),
            F.max(v.cast("string").startswith("-").cast("int")).alias("neg"),
        ).collect()[0]
        if probe["w"] is not None and probe["w"] > key_width:
            raise ValueError(
                f"index values up to {probe['w']} chars exceed "
                f"key_width={key_width}; pass a wider key_width"
            )
        if probe["neg"]:
            raise ValueError(
                "negative index values break lexicographic key order; "
                "bias the column into a non-negative range first"
            )

    def index_lookup(self, index_qualified_name: str, value) -> DataFrame:
        """Point lookup through a covered index: all index rows whose
        encoded value equals ``value`` — ONE contiguous key-prefix range
        scan (the A4 fast path; sorted layout + region pruning serve
        it), never touching the main table.  For a fixed-point index,
        ``value`` is bucketed by the registered scale, so re-apply the
        exact predicate on the carried value column when the scale is
        coarser than the query.
        """
        import math

        ispec = self.registry.get(index_qualified_name)
        meta = json.loads(ispec.properties["index_meta"])
        if meta["encoding"] == "str":
            prefix = f"{value}{self._STR_SEP}"
        else:
            # HALF_UP to match Spark's F.round/DuckDB ROUND — Python's
            # built-in round() is banker's and would miss .5 boundaries
            v = (
                int(math.floor(value * meta["scale"] + 0.5))
                if meta["scale"]
                else int(value)
            )
            if v < 0:
                raise ValueError("negative lookup value on a lpad-keyed index")
            prefix = f"{v:0{meta['key_width']}d}|"
        # prefix always ends in an ASCII separator here, but route
        # through the shared successor arithmetic anyway (surrogate/
        # U+10FFFF-safe) so there is exactly one bound construction
        upper = self._prefix_upper_bound(prefix)
        df = self.read(index_qualified_name)
        return df.filter((F.col(ROW_KEY) >= prefix) & (F.col(ROW_KEY) < upper))

    def registered_indexes(self, qualified_name: str) -> dict[str, dict]:
        """Covered indexes registered on ``qualified_name`` (by
        :meth:`create_covered_index`): index qualified name →
        ``{"col", "include", "key_width"}``."""
        spec = self.registry.get(qualified_name)
        return {
            k[len(_INDEX_PROP):]: json.loads(v)
            for k, v in spec.properties.items()
            if k.startswith(_INDEX_PROP)
        }

    def index_is_stale(self, index_qualified_name: str) -> bool:
        """True iff a write changed the main table's rows and this
        index's maintenance has not completed (it is running, or it
        failed and :meth:`rebuild_indexes` has not yet run)."""
        return (
            self.registry.get(index_qualified_name).properties.get("stale")
            == "true"
        )

    def rebuild_indexes(self, qualified_name: str) -> None:
        """Rebuild every covered index registered on the table from its
        current state (the catch-up path after a failed maintenance) and
        clear their stale markers."""
        self._maintain_indexes(qualified_name, None)

    def _mark_index_stale(self, iq: str, stale: bool) -> None:
        ispec = self.registry.get(iq)
        if stale:
            ispec.properties["stale"] = "true"
            self.registry.register(ispec)
        elif ispec.properties.pop("stale", None) is not None:
            self.registry.register(ispec)

    def _maintain_indexes(
        self, qualified_name: str, delta: tuple | None
    ) -> None:
        """Covered-index maintenance after a committed write (reference
        analogue: the insert path refreshing dependent metadata after
        write, ``InsertIntoHBaseTable.scala:110``; semantics: Phoenix
        global index maintenance), called by :meth:`_commit` and
        :meth:`rebuild_indexes`; each index's stale marker is cleared
        when its maintenance finishes.

        With the write's ``delta`` maintenance is INCREMENTAL
        (:meth:`_maintain_indexes_incremental`); without one — a large
        change, an index that was stale at entry, or a rebuild — each
        index is REBUILT: ONE index-projection key-sorted rewrite per
        index (width guard folded into the projection via
        ``guard=True``)."""
        indexes = self.registered_indexes(qualified_name)
        if delta is not None:
            self._maintain_indexes_incremental(
                indexes, self.read(qualified_name), *delta
            )
            return
        main_spec = self.registry.get(qualified_name)
        main_root = self.table_root(main_spec)
        for iq, meta in indexes.items():
            ispec = self.registry.get(iq)

            def rebuild(ispec=ispec, meta=meta) -> None:
                # re-read the MAIN table PER ATTEMPT (the retry
                # contract: each attempt re-resolves current state) —
                # a retried rebuild must fold in whatever the
                # conflicting writer committed, or the index would be
                # re-swapped from a stale projection and marked fresh
                # while missing rows.  The flip re-checks the main
                # generation under the INDEX lock: a main commit that
                # landed after this read conflicts loudly (its own
                # index maintenance raced ours), and a main-table
                # APPEND's index entries landing after our flip are
                # additive (per-row projection of appended rows), so
                # order is immaterial there.
                main_gen = self._resolve_cur_prev(main_root)[0]
                main_src = os.path.join(main_root, main_gen)
                # capture the generation's file LISTING too: a
                # concurrent insert() appends files (and its own index
                # projection) WITHOUT flipping the pointer, so a
                # pointer-only check would let this rebuild replace the
                # index wholesale from a pre-append read — dropping the
                # insert's entries while marking the index fresh.  Same
                # carry-swap discipline as compact/compact_versions.
                main_listing = self._data_files(main_src)
                proj = self.index_projection(
                    self.read(qualified_name),
                    meta["col"],
                    list(meta["include"]),
                    meta["key_width"],
                    meta.get("encoding", "int"),
                    meta.get("scale"),
                    guard=True,
                )

                def main_unchanged() -> None:
                    if (
                        self._resolve_cur_prev(main_root)[0] != main_gen
                        or self._data_files(main_src) != main_listing
                    ):
                        raise ConcurrentWriteConflictError(
                            f"{qualified_name}: main table committed a "
                            f"generation or appended files during the "
                            f"{iq} index rebuild"
                        )

                self._sorted_rewrite(
                    ispec, proj, under_lock_check=main_unchanged
                )

            self._retry_write_conflict(rebuild)
            self._mark_index_stale(iq, False)

    def _maintain_indexes_incremental(
        self,
        indexes: dict,
        main: DataFrame,
        changed_keys: DataFrame | None,
        probe_keys: list | None,
        changed_rows: DataFrame | None = None,
        has_new_rows: bool | None = None,
    ) -> None:
        """Delta index maintenance, the write's ``delta`` unpacked:
        drop the entries whose ``i:src_key`` is a changed key (the
        selective-rewrite machinery on the INDEX table), append
        projections of those keys' current rows (O(batch)).  Exactly
        the state a full rebuild would produce — unchanged source rows
        keep their (already correct) entries, and the (value, src_key)
        composite index key makes delete-then-append collision-free.

        The locate semi-joins on ``i:src_key`` — a PAYLOAD column, and
        the value-sorted layout scatters one source key's entries
        across any file — so index files carry src-key Bloom sidecars
        (``_bloom-srckey/``, built by every index write path) and the
        locate SCANS only the files whose sidecar admits a changed key.
        ``probe_keys`` are the changed keys as the batch pin holds them
        on the driver (``None`` = unknown: no src-key Bloom pruning, and
        no broadcast hint on the unbounded key frame).  A DENSE probe —
        at least ``_DENSE_KEYS_PER_FILE`` keys per Bloom survivor file —
        skips the locate and rewrites every survivor (sound: the
        anti-join drops nothing from a false-positive file); when that
        rewrite carries no index file, the appended projections fold
        into it (:meth:`_selective_rewrite`), so the index keeps its
        file count.
        A caller that already HOLDS the changed keys' post-write rows
        passes them as ``changed_rows`` and skips the main-table
        semi-join re-read entirely (``main`` is unused then): a
        key-granularity feed's insert/update rows
        (:meth:`apply_changes`), or an append's batch (:meth:`insert`,
        whose ``changed_keys`` is ``None``: nothing to drop)."""
        keys = None
        if changed_keys is not None:
            keys = changed_keys.select(F.col(ROW_KEY).alias("__changed_key"))
            if probe_keys is not None:
                # the batch pin bounds the key set (the driver holds
                # it), so the broadcast is bounded too; an over-cap set
                # is left to AQE's join choice
                keys = F.broadcast(keys)
        if changed_rows is None:
            # current (post-DML) rows for the changed keys: the appends.
            # Batch-sized by the incremental threshold; pinned so each
            # index's projection reads the same materialized rows.
            changed_rows = main.join(
                keys, main[ROW_KEY] == F.col("__changed_key"), "left_semi"
            ).localCheckpoint(eager=True)
        if has_new_rows is None:
            has_new_rows = bool(changed_rows.take(1))
        # src-key Bloom probe values: each key rendered as the index
        # write path's string cast renders it into ``i:src_key`` — exact
        # for str and int keys (``str()``); any other key type probes
        # nothing and the locate scans unpruned
        if probe_keys is not None:
            probe_keys = (
                [str(k) for k in probe_keys]
                if all(type(k) in (str, int) for k in probe_keys)
                else None
            )
        for iq, meta in indexes.items():
            ispec = self.registry.get(iq)
            proj = (
                self.index_projection(
                    changed_rows,
                    meta["col"],
                    list(meta["include"]),
                    meta["key_width"],
                    meta.get("encoding", "int"),
                    meta.get("scale"),
                    guard=True,
                )
                if has_new_rows
                else None
            )

            def drop_and_append(ispec=ispec, proj=proj) -> bool:
                # one index-generation resolution per attempt (same
                # locate/rewrite/CAS-base discipline as the DML paths);
                # a lost CAS re-locates against the winner's state.
                # Returns whether the fresh projection rode the swap —
                # when entries must be dropped, the appended run shares
                # the drop's ONE staged commit (one generation, one
                # span manifest, one Bloom pass) instead of a swap
                # followed by a separate append.
                ipath = self.table_path(ispec)
                ifiles = self._data_files(ipath)
                if probe_keys is not None:
                    # the index is sorted by VALUE, so a changed source
                    # key's entries can land in any file — the src-key
                    # Bloom sidecars prune the locate to the files that
                    # may actually hold one (absent sidecars keep the
                    # file; an empty survivor set proves no entries)
                    ifiles = [
                        f
                        for f in ifiles
                        if _bloom.file_survives_point_sets(
                            ipath, f, [probe_keys], "string",
                            subdir=_bloom.SRCKEY_DIR,
                        )
                    ]
                    if not ifiles:
                        return False
                if (
                    probe_keys is not None
                    and len(probe_keys)
                    >= self._DENSE_KEYS_PER_FILE * len(ifiles)
                ):
                    # a DENSE probe: the locate would mark (almost)
                    # every survivor affected — rewrite them directly;
                    # the anti-join drops nothing from a file holding
                    # none of the keys
                    affected = dict.fromkeys(ifiles, 0)
                else:
                    # an over-cap key frame may not broadcast: tag each
                    # row with its file before the join
                    affected = self._locate_affected_files(
                        ispec,
                        lambda d: d.withColumn(
                            "__f", F.input_file_name()
                        ).join(
                            keys,
                            F.col("`i:src_key`") == F.col("__changed_key"),
                            "left_semi",
                        ),
                        files=ifiles,
                    )
                if affected:
                    self._selective_rewrite(
                        ispec,
                        affected,
                        lambda df: df.join(
                            keys,
                            F.col("`i:src_key`") == F.col("__changed_key"),
                            "left_anti",
                        ),
                        path=ipath,
                        append=proj,
                    )
                    return proj is not None
                return False

            appended = keys is not None and self._retry_write_conflict(
                drop_and_append
            )
            if proj is not None and not appended:
                self.insert(
                    iq, proj, generate_row_key=False, maintain_indexes=False
                )
            self._mark_index_stale(iq, False)

    # -- versioned reads (HBase timestamp semantics) ----------------------
    def read_versions_asof(
        self,
        qualified_name: str,
        version_col: str,
        asof,
    ) -> DataFrame:
        """HBase timestamp-read analogue: keyed tables APPEND on insert,
        so a logical row accumulates versions — one physical row per
        (row_key, version) where ``version_col`` is a monotonically
        increasing qualifier the writer stamps (HBase: the cell
        timestamp).  Returns the LATEST version per row key with
        ``version <= asof`` — the Get/Scan-with-TIMERANGE semantics an
        HBase user expects, and the time-travel read the append-only
        layout gives for free.

        Contract: (row_key, version) unique per table — the writer owns
        version assignment exactly as HBase clients own timestamps.

        Plan shape (scales to 100 TB): filter + ONE map-side-combined
        max aggregate keyed by row_key + an equi-join back on
        (row_key, version) — deterministic under the uniqueness contract
        (no ``max_by``, whose tie winner is partition-order-dependent),
        no window, no global sort.  Old versions are physically removed
        by :meth:`compact` callers that pre-filter (major compaction
        discarding expired cells).
        """
        # dropDuplicates on (key, version) makes the read robust to
        # at-least-once ingest replay (a re-appended micro-batch carries
        # BIT-IDENTICAL rows, so collapsing them is lossless under the
        # uniqueness contract) — the read-side half of the keyed sink's
        # batch-id marker protection
        df = (
            self._versions_visible(qualified_name, version_col, asof)
            .dropDuplicates([ROW_KEY, version_col])
        )
        latest = df.groupBy(ROW_KEY).agg(
            F.max(f"`{version_col}`").alias("__v")
        )
        return df.join(
            latest,
            (df[ROW_KEY] == latest[ROW_KEY])
            & (df[f"`{version_col}`"] == latest["__v"]),
        ).select(df["*"])

    def _versions_visible(
        self, qualified_name: str, version_col: str, asof
    ) -> DataFrame:
        """Rows visible to a versioned read at ``asof``: version ≤ asof,
        MINUS cells the table's declared ``ttl`` property has expired —
        HBase's TTL attribute hides expired cells from reads IMMEDIATELY
        (physical removal waits for compaction), and so does this.  TTL
        is measured in the version column's own units relative to the
        read point (HBase: seconds relative to now; ``asof`` IS the
        read's "now"), which also keeps the read deterministic.  A
        non-numeric asof with a declared TTL is refused loudly rather
        than silently un-expiring cells."""
        df = self.read(qualified_name).filter(
            F.col(f"`{version_col}`") <= F.lit(asof)
        )
        spec = self.registry.get(qualified_name)
        ttl = self._table_prop(spec, "ttl")
        if ttl is not None:
            try:
                # float cut against an integer version column compares
                # under Spark's numeric promotion — exactness of the
                # boundary is the property author's contract
                cut = asof - float(ttl)
            except (TypeError, ValueError):
                # TypeError: non-numeric asof; ValueError: a non-numeric
                # declared ttl (e.g. HBase DDL dumps' TTL => 'FOREVER')
                raise ValueError(
                    f"{qualified_name}: the ttl table property needs a "
                    f"numeric value and a numeric version column / asof "
                    f"(ttl={ttl!r}, asof type {type(asof).__name__})"
                )
            df = df.filter(F.col(f"`{version_col}`") > F.lit(cut))
        return df

    def read_versions_topn(
        self,
        qualified_name: str,
        version_col: str,
        asof,
        n: int | None = None,
    ) -> DataFrame:
        """HBase ``Get.readVersions(n)`` / ``VERSIONS => N`` read: the N
        latest versions per row key with ``version <= asof`` (and inside
        the declared TTL, if any).  ``n=None`` reads the table's
        declared ``versions`` property (default: all — the reference's
        scan calls ``scan.readAllVersions()``,
        ``execution/HBaseTableScanExec.scala:112``, so all-versions is
        the parity default).

        Plan shape: ONE shuffle by row_key for the rank window (ordered
        by version descending — deterministic under the (key, version)
        uniqueness contract), no join, no global sort."""
        from pyspark.sql import Window

        spec = self.registry.get(qualified_name)
        if n is None:
            prop = self._table_prop(spec, "versions")
            n = int(prop) if prop is not None else None
        if n is not None and n < 1:
            # same law compact_versions enforces; HBase rejects
            # readVersions(0) — silence here would read as "no data"
            raise ValueError(f"n must be >= 1, got {n}")
        df = self._versions_visible(
            qualified_name, version_col, asof
        ).dropDuplicates([ROW_KEY, version_col])
        if n is None:
            return df
        w = Window.partitionBy(ROW_KEY).orderBy(
            F.col(f"`{version_col}`").desc()
        )
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= F.lit(int(n)))
            .drop("__rn")
        )

    # -- Z-order keys (2-D locality layout, Morton interleave) ------------
    @staticmethod
    def morton_key(x: "F.Column", y: "F.Column", bits: int = 8):
        """Morton (Z-order) interleave of two non-negative integer
        columns into one sortable code — the 2-D data-skipping layout
        (Delta/Iceberg ``OPTIMIZE ZORDER BY`` publishes the same trick):
        points close in (x, y) cluster in key ranges, so a 2-D box
        query becomes ONE key-range scan + a residual exact filter.

        Because the interleave writes x-bits and y-bits to DISJOINT
        positions, the code is ``f(x) + g(y)`` with f, g monotone —
        hence every point of the box [x1,x2]×[y1,y2] has its code in
        [morton(x1,y1), morton(x2,y2)] and the range scan is a sound
        superset (the residual filter removes the z-curve's
        false-positive corners).
        """
        m = F.lit(0).cast("long")
        for i in range(bits):
            m = (
                m
                + F.shiftleft(
                    F.shiftright(x.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i
                )
                + F.shiftleft(
                    F.shiftright(y.cast("long"), i).bitwiseAND(F.lit(1)),
                    2 * i + 1,
                )
            )
        return m

    @staticmethod
    def morton_value(x: int, y: int, bits: int = 8) -> int:
        """Driver-side twin of :meth:`morton_key` for literal range
        bounds.  Rejects out-of-domain coordinates — values >= 2^bits
        would silently TRUNCATE (keeping only the low bits), which
        breaks the monotone-containment soundness outright (a box can
        then MISS rows, not just over-scan)."""
        for v in (x, y):
            if not 0 <= v < (1 << bits):
                raise ValueError(
                    f"morton coordinate {v} outside [0, {1 << bits}); "
                    f"raise bits= or rescale the column"
                )
        m = 0
        for i in range(bits):
            m += ((x >> i) & 1) << (2 * i)
            m += ((y >> i) & 1) << (2 * i + 1)
        return m

    def morton_domain_guard(
        self, rows: DataFrame, x: "F.Column", y: "F.Column", bits: int = 8
    ) -> None:
        """Build-time domain check for :meth:`morton_key` (same class of
        guard as the covered-index width check): raises if any value of
        either coordinate falls outside [0, 2^bits)."""
        probe = rows.agg(
            F.min(x.cast("long")).alias("xmin"),
            F.max(x.cast("long")).alias("xmax"),
            F.min(y.cast("long")).alias("ymin"),
            F.max(y.cast("long")).alias("ymax"),
        ).collect()[0]
        hi = 1 << bits
        for k in ("xmin", "xmax", "ymin", "ymax"):
            v = probe[k]
            if v is not None and not 0 <= v < hi:
                raise ValueError(
                    f"morton coordinate range [{probe['xmin']}, "
                    f"{probe['xmax']}] x [{probe['ymin']}, {probe['ymax']}] "
                    f"exceeds [0, {hi}); raise bits= or rescale"
                )

    # -- salted keys (HBase hot-spotting fix / Phoenix SALT_BUCKETS) ------
    @staticmethod
    def salted_key(key: "F.Column", buckets: int) -> "F.Column":
        """Salt a row key with a deterministic hash-prefix bucket —
        ``NN|<key>`` where ``NN = md5_56(key) % buckets`` — the standard
        HBase fix for monotonically-increasing keys hot-spotting one
        region (Phoenix ``SALT_BUCKETS`` semantics, public).  Writes
        spread across ``buckets`` key ranges; split the table on the
        salt prefixes so each bucket is its own region."""
        if not 1 <= buckets <= 100:
            raise ValueError(
                f"buckets must be in [1, 100] (2-char salt prefix), got {buckets}"
            )
        h = F.conv(F.substring(F.md5(key.cast("string")), 1, 14), 16, 10).cast(
            "long"
        )
        return F.concat(
            F.lpad((h % buckets).cast("string"), 2, "0"), F.lit("|"), key
        )

    def read_salted_key_range(
        self, qualified_name: str, buckets: int, lo: str, hi: str
    ) -> DataFrame:
        """Key-range scan over a salted table: the logical range
        ``[lo, hi]`` fans out to ``buckets`` physical ranges
        ``[NN|lo, NN|hi]`` — one per salt prefix — expressed as a single
        OR-of-ranges predicate so parquet row-group min/max stats (and
        the datasource's region pruning) skip everything outside all
        ``buckets`` stripes.  The salt is stripped from the returned
        ``row_key``.  This is exactly how Phoenix serves range queries
        over salted tables: B parallel range scans instead of one."""
        if not 1 <= buckets <= 100:
            raise ValueError(
                f"buckets must be in [1, 100] (2-char salt prefix), got {buckets}"
            )
        df = self.read(qualified_name)
        cond = None
        for b in range(buckets):
            p = f"{b:02d}|"
            rng = (F.col(ROW_KEY) >= p + lo) & (F.col(ROW_KEY) <= p + hi)
            cond = rng if cond is None else (cond | rng)
        return df.filter(cond).withColumn(
            ROW_KEY, F.substring(F.col(ROW_KEY), 4, 10_000_000)
        )

    # -- version GC at compaction (HBase VERSIONS=1 / TTL semantics) ------
    def compact_versions(
        self,
        qualified_name: str,
        version_col: str,
        min_version=None,
        n_regions: int | None = None,
        keep_versions: int | None = None,
    ) -> None:
        """Major compaction with version garbage collection: rewrite the
        table keeping only the ``keep_versions`` LATEST versions per row
        key (HBase ``VERSIONS => N``; default 1, or the table's declared
        ``versions`` property), optionally dropping rows below
        ``min_version`` first (TTL expiry — cells older than the cut are
        gone even if they are the only version; pass ``asof - ttl`` to
        enforce a declared ``ttl`` property at compaction time, the
        HBase major-compaction TTL sweep).  Reads before and after are
        equivalent for any ``read_versions_asof`` at or above the
        surviving versions — compaction is semantically invisible, it
        only reclaims space and restores scan locality.

        Same cost class as :meth:`compact`: one latest-per-key reduction
        (filter + max aggregate + equi-join for N=1 — deterministic
        under the (key, version) uniqueness contract; one rank window
        for N>1) + one range-partitioned key-sorted rewrite.
        """
        spec = self.registry.get(qualified_name)
        if keep_versions is None:
            prop = self._table_prop(spec, "versions")
            keep_versions = int(prop) if prop is not None else 1
        if keep_versions < 1:
            raise ValueError(f"keep_versions must be >= 1, got {keep_versions}")

        def attempt() -> None:
            # CAS base + base-listing guard before the read — the same
            # concurrent-rewrite/append discipline as compact
            src = self.table_path(spec)
            base = os.path.basename(src)
            listing = self._data_files(src)

            def no_appends() -> None:
                if self._data_files(src) != listing:
                    raise ConcurrentWriteConflictError(
                        f"{spec.qualified_name}: files appended to "
                        f"generation {base!r} during version GC"
                    )

            snap = self.read(qualified_name)
            if min_version is not None:
                snap = snap.filter(
                    F.col(f"`{version_col}`") >= F.lit(min_version)
                )
            if keep_versions == 1:
                latest = snap.groupBy(ROW_KEY).agg(
                    F.max(f"`{version_col}`").alias("__v")
                )
                kept = snap.join(
                    latest,
                    (snap[ROW_KEY] == latest[ROW_KEY])
                    & (snap[f"`{version_col}`"] == latest["__v"]),
                ).select(snap["*"])
            else:
                from pyspark.sql import Window

                # dense_rank, not row_number: a replayed bit-identical
                # row (two physical rows, one version) must not consume
                # two of the N slots — same retention the N=1 max-join
                # gives duplicates
                w = Window.partitionBy(ROW_KEY).orderBy(
                    F.col(f"`{version_col}`").desc()
                )
                kept = (
                    snap.withColumn("__rn", F.dense_rank().over(w))
                    .filter(F.col("__rn") <= F.lit(keep_versions))
                    .drop("__rn")
                )
            self._sorted_rewrite(
                spec, kept, n_regions=n_regions, expected_base=base,
                under_lock_check=no_appends,
            )

        self._retry_write_conflict(attempt)

    # -- shared full-table rewrite (regions + sorted layout + refresh) ----
    def _atomic_swap_write(
        self,
        spec: TableSpec,
        out: DataFrame,
        validate=None,
        expected_base=_RESOLVE_AT_ENTRY,
        under_lock_check=None,
    ) -> None:
        """Write ``out`` to a fresh GENERATION directory under the table
        root, then flip the generation pointer — the staged-commit
        protocol applied to full-table rewrites.  ``expected_base`` /
        ``under_lock_check`` forward to :meth:`_swap_table_dir`:
        full-table rewrites that READ the table (compaction, version
        GC) pass the generation they read as the CAS base and a
        base-listing check so a concurrent APPEND — which adds files
        WITHOUT flipping the pointer — fails the flip loudly instead of
        silently vanishing from the rewritten state.

        Why not overwrite-in-place: a DML rewrite READS the table it
        replaces, so writing ``mode("overwrite")`` to the same path needs
        the plan materialized first — the previous design pinned an entire
        table copy in executor block-manager storage via
        ``localCheckpoint(eager=True)``, a hard ceiling at 100 TB.  With
        staging, the lazy plan streams from the OLD generation while
        writing the NEW one; no executor-storage copy ever exists, and a
        crash mid-write leaves the old generation live (the unreferenced
        build is garbage, swept by the next rewrite).
        """
        self._swap_table_dir(
            spec,
            lambda staging: self._writer(out, spec)
            .mode("overwrite").parquet(staging),
            validate=validate,
            expected_base=expected_base,
            under_lock_check=under_lock_check,
        )

    def _link_or_copy(self, src: str, dst: str) -> None:
        """Zero-copy carry of an immutable file between generation
        directories (POSIX hardlink with copy fallback; see
        ``storage_io.py`` for what this becomes on HDFS/object
        stores)."""
        self.io.link_or_copy(src, dst)

    @staticmethod
    def _data_files(path: str) -> list[str]:
        """Sorted data-file basenames of one generation: its
        directory's ``*.parquet`` — the ONE membership rule every
        locate/carry/CAS-guard shares (a listing-rule drift between a
        carry and its flip guard would read as a phantom conflict or a
        silent drop)."""
        return sorted(
            f for f in os.listdir(path) if f.endswith(".parquet")
        )

    def _scrub_empty_parts(self, staging: str, known: dict | None = None) -> None:
        """Remove ZERO-ROW part files from a private staging directory.

        Spark's writer emits an empty part file when an empty partition
        precedes a non-empty one in the same write — with the declared
        split-key layout (one shuffle partition per region), every write
        whose batch misses a low-numbered region would otherwise leak
        one empty file per miss, growing the scan listing and the
        compaction-threshold count with pure noise.  ``known`` (the
        carried files' span stats) avoids footer reads for hardlinked
        carries, so the cost is one footer open per NEW file — which the
        span-manifest write was about to pay anyway.  A 0-row claim from
        the cache is re-verified against the live footer before any
        delete (deleting a non-empty file would lose data; a stale cache
        must never be trusted that far).  If EVERY part is empty, one is
        kept as the schema anchor (TRUNCATE's layout contract).
        """
        known = known or {}
        parts = [f for f in os.listdir(staging) if f.endswith(".parquet")]
        empties = []
        for fname in parts:
            rec = known.get(fname)
            rows = rec[2] if rec is not None else None
            if rows is None or rows == 0:
                try:
                    rows = self._footer_key_stats(
                        os.path.join(staging, fname)
                    )[2]
                except Exception:
                    continue  # unreadable here: keep; the scrub is cosmetic
            if rows == 0:
                empties.append(fname)
        if len(empties) == len(parts):
            empties = empties[1:]  # keep one file as the schema anchor
        for fname in empties:
            os.remove(os.path.join(staging, fname))

    def _swap_table_dir(
        self,
        spec: TableSpec,
        build_staging,
        validate=None,
        expected_base=_RESOLVE_AT_ENTRY,
        under_lock_check=None,
        span_reuse_path: str | None = None,
    ) -> None:
        """The ONE staged-commit protocol every table-replacing path
        rides (DML rewrites, TRUNCATE, compaction, snapshot restore):

        1. sweep generations a crashed earlier swap left unreferenced
           (never the current or previous one — reader grace);
        2. build the new generation via ``build_staging(new_gen_path)``;
        3. run ``validate()`` if given — raising here ABORTS the swap
           with the live table untouched (used by :meth:`upsert`'s
           in-plan MERGE-source duplicate check);
        4. flip the ``_GENERATION`` pointer with ONE atomic rename —
           readers resolve either the old or the new generation, both
           complete, at every instant (no dangling-name window);
        5. sweep generations older than the one just retired.

        A crash at any step leaves the live table resolvable and
        complete; garbage is swept by the next swap.

        Writer-writer safety (round-8): the flip is a CAS — under a
        per-table lock the manifest is re-read, and if the current
        generation is no longer the one this rewrite BUILT AGAINST, the
        flip is REFUSED (:class:`ConcurrentWriteConflictError`), the
        staged generation discarded, and the caller retries against the
        winner's state.  ``expected_base`` names that build-input
        generation; callers that READ table data to produce the new
        generation MUST pass the generation they actually read
        (``_swap_write_with_carry`` derives it from its source path) —
        the default resolves at entry and is only sound for builds that
        read no base data (truncate, overwrite-insert, snapshot
        restore, index rebuild from the main table).  While building, a
        ``.building-<gen>`` liveness marker (flock-held for the build's
        duration) shields the staging directory from a concurrent
        writer's sweep; the kernel releases the flock with the owner's
        fd, so a killed writer leaves ordinary sweepable garbage."""
        root = self.table_root(spec)
        cur, prev = self._resolve_cur_prev(root)
        base = (
            cur if expected_base is self._RESOLVE_AT_ENTRY else expected_base
        )
        # opportunistic GC of retired generations / crashed builds (the
        # sweep re-reads the manifest under the writer lock, so nothing
        # a concurrent writer commits mid-sweep can be deleted)
        self._sweep_generations(root, keep={cur, prev})
        new_gen = f"gen-{uuid.uuid4().hex[:12]}"
        trash: list[str] = []
        try:
            with self._marker_guard(
                os.path.join(root, f".building-{new_gen}")
            ):
                build_staging(os.path.join(root, new_gen))
                try:
                    self._scrub_empty_parts(
                        os.path.join(root, new_gen),
                        known=(
                            self._load_span_stats(span_reuse_path)
                            if span_reuse_path
                            else None
                        ),
                    )
                except Exception:
                    pass  # cosmetic — never fail the commit over it
                if validate is not None:
                    validate()
                # record the new generation's key-span manifest while the
                # staging is still private — carried hardlinks reuse the
                # source generation's entries by name (identical content),
                # fresh files read their own footer once, HERE, so no
                # reader ever pays the O(files) footer walk again
                try:
                    self._write_span_manifest(
                        os.path.join(root, new_gen),
                        known=(
                            self._load_span_stats(span_reuse_path)
                            if span_reuse_path
                            else None
                        ),
                    )
                except Exception:
                    pass  # cache only — never fail the commit over it
                try:
                    # Bloom sidecars ride the same staging window:
                    # carried files hardlink their sidecar from the
                    # source generation, rewritten/new files build
                    # theirs in one distributed pass (no-op unless the
                    # table sets bloomfilter=ROW)
                    self._write_bloom_filters(
                        spec,
                        os.path.join(root, new_gen),
                        reuse_path=span_reuse_path,
                    )
                except Exception:
                    pass  # cache only — never fail the commit over it
                with self._table_write_lock(root):
                    try:
                        cur_now, _ = self._resolve_cur_prev(root)
                        if cur_now != base:
                            raise ConcurrentWriteConflictError(
                                f"{spec.qualified_name}: generation "
                                f"{cur_now!r} was committed by a concurrent "
                                f"writer while this rewrite built against "
                                f"{base!r}"
                            )
                        if under_lock_check is not None:
                            # e.g. the carry swap re-verifies its base
                            # file listing: an append that landed after
                            # the carry listing must fail the flip, not
                            # vanish
                            under_lock_check()
                    except ConcurrentWriteConflictError:
                        # discard the staged generation by RENAME only
                        # (the lock is never held across a recursive
                        # delete); the rmtree runs in the finally below
                        dst = os.path.join(
                            root, f".trash-{uuid.uuid4().hex[:12]}"
                        )
                        try:
                            os.rename(os.path.join(root, new_gen), dst)
                            trash.append(dst)
                        except OSError:
                            pass
                        raise
                    self._write_gen_manifest(root, new_gen, base)
                    # deletion decisions under the lock; delete after
                    trash += self._sweep_generations(
                        root, keep={new_gen, base}, locked=True
                    )
        finally:
            for t in trash:
                shutil.rmtree(t, ignore_errors=True)
        self.refresh(spec.qualified_name)

    def _resolve_cur_prev(self, root: str) -> tuple[str, str | None]:
        """(current, previous) generation per the manifest."""
        man = self._gen_manifest(root)
        return man["current"], man.get("previous")

    @staticmethod
    def _n_regions(spec: TableSpec) -> int:
        return max(len(spec.split_keys) + 1, 1) if spec.split_keys else DEFAULT_REGIONS

    @staticmethod
    def _partition_tokens(n: int) -> tuple:
        return _hash_partition_tokens(n)

    @staticmethod
    def _parse_split_values(spec: TableSpec, raw: list) -> list:
        """Parse split-key strings into the KEY's type (no order check —
        :meth:`_declared_split_bounds` adds it for declarations;
        :meth:`split_region` parses one candidate point)."""
        kt = (spec.key_type or "string").lower()
        raw = [str(s) for s in raw]
        if kt in _INTEGRAL_INDEX_TYPES:
            try:
                vals: list = [int(s) for s in raw]
            except ValueError:
                raise ValueError(
                    f"{spec.qualified_name}: split key not parseable as "
                    f"{kt}: {raw}"
                ) from None
        elif kt in ("float", "double"):
            try:
                vals = [float(s) for s in raw]
            except ValueError:
                raise ValueError(
                    f"{spec.qualified_name}: split key not parseable as "
                    f"{kt}: {raw}"
                ) from None
        elif kt.startswith(("string", "varchar", "char")):
            vals = list(raw)
        else:
            raise ValueError(
                f"{spec.qualified_name}: declared split keys are not "
                f"supported for key type {kt!r}"
            )
        return vals

    @classmethod
    def _declared_split_bounds(cls, spec: TableSpec) -> list:
        """Typed, validated region boundaries from the table's declared
        split keys.

        HBase hands split keys to ``createTable`` as raw bytes
        (``HBaseClientImpl.scala:362-364``); here they live as strings
        in the catalog (the ``"split"`` property, ``:262,273``) and must
        compare in the KEY's type — ``"100"`` on a long key is the
        number 100, not the digit string (lexicographic routing on
        digits is the same trap the round-8 typed footer-stats fix
        killed).  Malformed declarations raise loudly: a silently
        ignored or misordered split list would quietly route rows to
        the wrong region."""
        vals = cls._parse_split_values(spec, list(spec.split_keys))
        if not all(a < b for a, b in zip(vals, vals[1:])):
            raise ValueError(
                f"{spec.qualified_name}: split keys must be strictly "
                f"increasing in the key's type order, got "
                f"{[str(s) for s in spec.split_keys]}"
            )
        return vals

    def _region_layout(
        self, spec: TableSpec, df: DataFrame, n_regions: int | None = None
    ) -> DataFrame:
        """Partition ``df`` into the table's region layout and key-sort
        each region — the HFile-write law behind every full write path.

        Declared split keys (HBase pre-split parity,
        ``HBaseClientImpl.scala:331-364``) are EXACT boundaries: each
        row's region is a typed comparison against the declared bounds
        and each region maps to its OWN shuffle partition through the
        probed hash tokens, so boundaries are deterministic,
        skew-independent, and identical across every generation — a
        bulk load cannot be skew-surprised, no file ever straddles a
        declared boundary, and incremental DML keeps stable file↔range
        alignment.  Rows with a NULL key route to region 0 (the
        ``delete_where`` NULL-key law keeps such rows representable).
        Without a declaration, boundaries come from
        ``repartitionByRange`` sampling at the default fan-out.  An
        explicit ``n_regions`` (the size-targeted split-policy path —
        HBase regions likewise split past their pre-split points)
        overrides the declaration with sampled bounds.

        Declared layouts bound WRITE parallelism at the region count
        (one shuffle partition per region — the same property HBase
        has: a region is the write unit); the ``REGION_MAX_BYTES``
        auto-split policy and :meth:`split_region` exist precisely to
        keep regions — and therefore write tasks — bounded as data
        grows."""
        if n_regions is None and spec.split_keys:
            bounds = self._declared_split_bounds(spec)
            n = len(bounds) + 1
            key_t = spec.schema()[ROW_KEY].dataType
            region = F.lit(0)
            for b in bounds:
                region = region + F.when(
                    F.col(ROW_KEY) >= F.lit(b).cast(key_t), 1
                ).otherwise(0)
            toks = self._partition_tokens(n)
            token = F.element_at(
                F.array(*[F.lit(int(t)) for t in toks]), region + F.lit(1)
            ).cast("int")
            return df.repartition(n, token).sortWithinPartitions(ROW_KEY)
        n = n_regions or self._n_regions(spec)
        return df.repartitionByRange(n, ROW_KEY).sortWithinPartitions(ROW_KEY)

    @staticmethod
    def _conform(schema, df: DataFrame) -> DataFrame:
        """``df`` as the declared ``schema``: its columns in declared
        order, each cast to its declared type."""
        return df.select(
            *[F.col(f"`{f.name}`").cast(f.dataType).alias(f.name)
              for f in schema.fields]
        )

    def _sorted_rewrite(
        self,
        spec: TableSpec,
        df: DataFrame,
        n_regions: int | None = None,
        validate=None,
        expected_base=_RESOLVE_AT_ENTRY,
        under_lock_check=None,
    ) -> None:
        """Conform ``df`` to the declared schema (order AND types — a
        rewrite must never drift stored types away from the TableSpec;
        e.g. an UPDATE assigning a double into a long column) and write
        it as the table's new key-sorted range-partitioned layout via
        the staged-directory atomic swap.  The implementation behind
        every FULL-table rewrite (compaction, truncate, version GC);
        the DML paths ride the selective variants instead
        (:meth:`_selective_rewrite`, :meth:`upsert`)."""
        out = self._region_layout(
            spec, self._conform(spec.schema(), df), n_regions=n_regions
        )
        self._atomic_swap_write(
            spec, out, validate=validate, expected_base=expected_base,
            under_lock_check=under_lock_check,
        )

    @classmethod
    def _file_key_range(cls, full: str) -> tuple:
        """Exact ``(min_key, max_key, n_rows)`` for ONE data file — from
        its footer when trustworthy, else an exact single-column read of
        that file; values keep the key column's NATIVE type.  The ONE
        footer-range implementation behind :meth:`region_stats` and the
        DML key-span split.

        parquet writers TRUNCATE long binary statistics (parquet-mr at
        64 BYTES — the truncated max is then rounded up past the true
        range, and multibyte UTF-8 means the byte limit can trip well
        under 64 *characters*).  This runtime's pyarrow does not expose
        ``is_min/max_value_exact``, so any stat that is missing, flagged
        inexact, or whose UTF-8 encoding reaches the truncation boundary
        falls back to the exact file-local key read (still O(one file);
        the footer fast path serves every normal-width key)."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        lo, hi, rows, exact = cls._footer_key_stats(full)
        if not exact:
            keys = pq.read_table(full, columns=[ROW_KEY]).column(0)
            lo, hi = pc.min(keys).as_py(), pc.max(keys).as_py()
        return lo, hi, rows

    @staticmethod
    def _footer_key_stats(full: str):
        """``(min_key, max_key, n_rows, exact)`` from the parquet
        FOOTER alone — never reads data pages.  ``exact=False`` flags
        untrustworthy stats (missing, inexact, at the 64-byte
        truncation boundary, or truncated mid-multibyte-sequence so the
        bytes don't even decode); callers either fall back to an exact
        single-file read (:meth:`_file_key_range`, for spans that must
        be right) or conservatively treat the file as a candidate
        (:meth:`_span_candidates`, where over-inclusion only costs the
        locate scan one extra file)."""
        import pyarrow.parquet as pq

        md = pq.read_metadata(full)
        rows = md.num_rows
        if rows == 0:
            return None, None, 0, True
        idx = next(
            (
                c
                for c in range(md.num_columns)
                if md.row_group(0).column(c).path_in_schema == ROW_KEY
            ),
            None,
        )
        if idx is None:
            raise RuntimeError(
                f"no {ROW_KEY!r} column in {os.path.basename(full)} — "
                "foreign file in the table directory or schema drift"
            )
        lo = hi = None
        exact = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                exact = False
                break
            if (
                getattr(st, "is_min_value_exact", True) is False
                or getattr(st, "is_max_value_exact", True) is False
            ):
                exact = False
                break
            mn, mx = st.min, st.max
            if isinstance(mn, bytes):
                mn_b, mx_b = mn, mx
                try:
                    mn, mx = mn.decode(), mx.decode()
                except UnicodeDecodeError:
                    # stat truncated mid-multibyte UTF-8 sequence
                    exact = False
                    break
                if max(len(mn_b), len(mx_b)) >= 64:  # BYTES, not chars
                    exact = False
                    break
            elif isinstance(mn, str):
                if max(len(mn.encode()), len(mx.encode())) >= 64:
                    exact = False
                    break
            # else: numeric/temporal key stats are fixed-width native
            # values — never truncated, and kept TYPED: stringifying
            # them would make every downstream comparison lexicographic
            # over digits ("99" > "100"), silently pruning files that
            # contain matches on a non-string-keyed table
            try:
                lo = mn if lo is None or mn < lo else lo
                hi = mx if hi is None or mx > hi else hi
            except TypeError:
                exact = False  # mixed stat types across row groups
                break
        return lo, hi, rows, exact

    # -- key-span manifest: footer stats persisted once per generation ----
    #
    # Every selective-DML locate, span split, row count, and region-stats
    # call needs (min_key, max_key, n_rows, exact) per data file.  Reading
    # them from N parquet footers is O(files) driver-side metadata opens
    # PER OPERATION — fine locally, a real bottleneck at 100 TB table
    # sizes (tens of thousands of files on an object store at tens of ms
    # per footer round-trip).  The manifest is the Iceberg/Delta answer
    # (and HBase's: a RegionServer caches HFile metadata for a store
    # file's lifetime): the WRITER, which just produced the files, records
    # their stats in one small ``_spans.json`` inside the generation
    # directory before the flip, and appends record theirs in write-once
    # ``_spans-<id>.json`` sidecars — so readers pay one tiny JSON read
    # instead of N footer opens.  Strictly a CACHE of immutable file
    # content: generations never rewrite a file in place (carries are
    # hardlinks of identical content under the same name), any file the
    # manifest doesn't cover falls back to a live footer read, and a
    # malformed/unreadable manifest degrades to exactly the pre-manifest
    # behavior — soundness never depends on the manifest being present.
    # (Spark ignores ``_``-prefixed files, and ``_data_files`` lists only
    # ``*.parquet``, so the manifest is invisible to scans and carries.)

    @staticmethod
    def _encode_span_value(v):
        """Tagged JSON encoding of a native key-stat value.  Only the
        orderable key types the pruning comparisons understand are
        encoded (str / int / bytes); anything else raises
        :class:`_SpanUnencodable` and the file's entry is omitted."""
        if v is None:
            return None
        if isinstance(v, str):
            return {"s": v}
        if isinstance(v, bool):  # bool is an int subclass — never a key
            raise _SpanUnencodable(repr(v))
        if isinstance(v, int):
            return {"i": v}  # Python json round-trips big ints exactly
        if isinstance(v, bytes):
            return {"b": base64.b64encode(v).decode("ascii")}
        raise _SpanUnencodable(type(v).__name__)

    @staticmethod
    def _decode_span_value(e):
        if e is None:
            return None
        if "s" in e:
            return e["s"]
        if "i" in e:
            return int(e["i"])
        if "b" in e:
            return base64.b64decode(e["b"])
        raise ValueError(f"unknown span value tag: {e!r}")

    @classmethod
    def _encode_span_entries(cls, stats: dict) -> dict:
        """{filename: manifest entry} from {filename: (lo, hi, rows,
        exact)}; files with unencodable lo/hi are omitted (fallback)."""
        out = {}
        for fname, (lo, hi, rows, exact) in stats.items():
            try:
                out[fname] = {
                    "lo": cls._encode_span_value(lo),
                    "hi": cls._encode_span_value(hi),
                    "rows": int(rows),
                    "exact": bool(exact),
                }
            except _SpanUnencodable:
                continue
        return out

    def _write_span_manifest(
        self, gen_path: str, known: dict | None = None
    ) -> None:
        """Write ``_spans.json`` covering every data file of
        ``gen_path`` — stats reused from ``known`` (e.g. the source
        generation's manifest, valid for carried files because
        name ⇒ identical content) or read from the file's footer.
        Atomic (tmp + rename) so a reader never sees a partial
        manifest.  Runs on a PRIVATE staging directory before the
        flip, so no lock is needed."""
        stats = {}
        for fname in self._data_files(gen_path):
            rec = (known or {}).get(fname)
            if rec is None:
                try:
                    rec = self._footer_key_stats(
                        os.path.join(gen_path, fname)
                    )
                except Exception:
                    # unreadable footer (e.g. a staging dir a caller
                    # deliberately poisoned before its validate step
                    # rejects it): the stats are a cache — omit the
                    # entry and let readers fall back, never fail the
                    # commit path on cache construction
                    continue
            stats[fname] = rec
        tmp = os.path.join(gen_path, f".spans-tmp-{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as fh:
            json.dump(
                {"version": 1, "files": self._encode_span_entries(stats)},
                fh,
            )
        self.io.atomic_rename(tmp, os.path.join(gen_path, _SPAN_MANIFEST))

    def _write_span_sidecar(self, gen_path: str, stats: dict) -> None:
        """Write-once ``_spans-<id>.json`` covering one append's part
        files (stats computed from the append staging BEFORE the link-in
        lock).  The uuid name means concurrent appends never collide and
        nothing is ever updated in place."""
        entries = self._encode_span_entries(stats)
        if not entries:
            return
        tmp = os.path.join(gen_path, f".spans-tmp-{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as fh:
            json.dump({"version": 1, "files": entries}, fh)
        self.io.atomic_rename(
            tmp,
            os.path.join(gen_path, f"_spans-{uuid.uuid4().hex[:12]}.json"),
        )

    # sidecars folded into the base manifest once this many accumulate —
    # keeps "one append = one tiny JSON" from regrowing into the very
    # O(files) metadata walk the manifest exists to kill on tables that
    # take thousands of appends between compactions
    _SPAN_SIDECAR_MERGE_AT = 8

    def _maybe_merge_span_sidecars(self, gen_path: str) -> None:
        """Fold accumulated ``_spans-*.json`` sidecars into
        ``_spans.json``.  MUST be called under the table writer lock
        (sidecar creation is, too, so no new sidecar can appear
        mid-merge).  Lock-free readers stay sound through any
        interleaving: the merged manifest lands by atomic rename BEFORE
        the sidecars are unlinked, so a reader sees each entry from the
        manifest, a sidecar, or both (same values) — and a reader whose
        stale listing opens a just-deleted sidecar tolerates the miss
        (``_load_span_stats``), degrading to live footer reads."""
        try:
            sidecars = [
                f
                for f in os.listdir(gen_path)
                if f.startswith("_spans-") and f.endswith(".json")
            ]
            if len(sidecars) < self._SPAN_SIDECAR_MERGE_AT:
                return
            merged = self._load_span_stats(gen_path)
            doc = {"version": 1, "files": self._encode_span_entries(merged)}
            tmp = os.path.join(
                gen_path, f".spans-tmp-{uuid.uuid4().hex[:8]}"
            )
            with open(tmp, "w") as fh:
                json.dump(doc, fh)
            self.io.atomic_rename(
                tmp, os.path.join(gen_path, _SPAN_MANIFEST)
            )
            for f in sidecars:
                try:
                    os.unlink(os.path.join(gen_path, f))
                except OSError:
                    pass
        except Exception:
            return  # cache maintenance never fails a write

    @staticmethod
    def _load_span_stats(path: str) -> dict:
        """Merged {filename: (lo, hi, rows, exact)} from the generation's
        manifest + append sidecars.  TOLERANT by contract: a missing,
        unreadable, or malformed manifest (or entry) simply isn't in the
        returned dict, and the caller's live-footer fallback runs —
        the manifest can make pruning cheaper, never wrong.  Entries for
        files no longer listed are inert (callers look up by current
        listing)."""
        out: dict = {}
        try:
            names = sorted(
                f
                for f in os.listdir(path)
                if f == _SPAN_MANIFEST
                or (f.startswith("_spans-") and f.endswith(".json"))
            )
        except OSError:
            return out
        for name in names:
            try:
                with open(os.path.join(path, name)) as fh:
                    doc = json.load(fh)
                files = doc["files"] if doc.get("version") == 1 else {}
            except (OSError, ValueError, KeyError, TypeError):
                continue
            for fname, e in files.items():
                try:
                    out[fname] = (
                        KeyedTableStore._decode_span_value(e["lo"]),
                        KeyedTableStore._decode_span_value(e["hi"]),
                        int(e["rows"]),
                        bool(e["exact"]),
                    )
                except (ValueError, KeyError, TypeError):
                    continue
        return out

    def _span_candidates(
        self,
        path: str,
        lo,
        hi,
        stats: dict | None = None,
    ) -> list[str]:
        """Data files whose row_key range MAY intersect ``[lo, hi]``
        (``None`` = unbounded side) — FOOTER STATS ONLY: a file whose
        stats are untrustworthy is a candidate outright rather than
        paying an exact driver-side key-column read just to decide
        candidacy (the locate scan reads candidates anyway, so
        over-inclusion costs one scanned file, while the exact read
        here would cost the same file read twice).  The first pass of
        :meth:`_candidate_files`, in front of every keyed-DML locate.
        A bound/stat TYPE mismatch (e.g. a string condition bound
        against a numeric-keyed table, or vice versa) never prunes —
        incomparable types make the file a candidate, so pruning stays
        sound for every ``key_type``.  ``stats`` (optional dict)
        collects each probed file's ``(lo, hi, rows, exact)`` so
        callers can reuse the footer reads instead of re-opening the
        same footers.  Stats come from the generation's span manifest
        when it covers the file (ONE small JSON read instead of
        O(files) footer opens — the 100 TB fix); uncovered files read
        their footer live."""
        files = self._data_files(path)
        cached = self._load_span_stats(path)
        out = []
        misses: dict = {}
        for fname in files:
            rec = cached.get(fname)
            if rec is None:
                rec = self._footer_key_stats(
                    os.path.join(path, fname)
                )
                misses[fname] = rec
            if stats is not None:
                stats[fname] = rec
            f_lo, f_hi, rows, exact = rec
            if rows == 0:
                continue
            if not exact:
                out.append(fname)
                continue
            try:
                if hi is not None and f_lo is not None and f_lo > hi:
                    continue
                if lo is not None and f_hi is not None and f_hi < lo:
                    continue
            except TypeError:
                pass  # incomparable bound/stat types: keep as candidate
            out.append(fname)
        if misses:
            # a generation whose manifest misses files (a crash between
            # append link-in and sidecar write, a foreign writer) would
            # otherwise re-pay these live footer reads on EVERY
            # operation — persist them as a span sidecar so the cost is
            # once per generation
            self._backfill_span_sidecar(path, misses)
        return out

    def _backfill_span_sidecar(self, path: str, stats: dict) -> None:
        """Best-effort persistence of live footer reads a span lookup
        paid for files the generation's manifest misses.  Only for
        ``gen-*`` directories (snapshot and foreign directories are not
        ours to annotate), under a short writer-lock timeout (sidecar
        creation is serialized against
        :meth:`_maybe_merge_span_sidecars`).  Lock contention is
        transient — the next operation retries; a WRITE failure
        (read-only directory, permissions) is remembered per store
        instance so the read path doesn't re-stall on the lock wait for
        a backfill that can never succeed."""
        if path in self._span_backfill_failed:
            return
        try:
            if not os.path.basename(path.rstrip(os.sep)).startswith("gen-"):
                return
            root = os.path.dirname(path.rstrip(os.sep))
            try:
                lock = self._table_write_lock(root, timeout=0.5)
                lock.__enter__()
            except ConcurrentWriteConflictError:
                return  # busy writer: transient, retry next operation
            try:
                live = self._load_span_stats(path)
                fresh = {f: r for f, r in stats.items() if f not in live}
                if fresh:
                    self._write_span_sidecar(path, fresh)
                    self._maybe_merge_span_sidecars(path)
            finally:
                lock.__exit__(None, None, None)
        except Exception:
            # the write itself failed: give up on this generation for
            # this store instance (cache backfill never stalls reads)
            self._span_backfill_failed.add(path)
            return

    # -- per-file row-key Bloom filters (HBase BLOOMFILTER => 'ROW') ------
    #
    # Span pruning alone degrades on long-lived tables: every appended
    # sorted run covers the whole key space, so a point get's span
    # candidates grow with run count — exactly the HFile-count problem
    # HBase's per-HFile bloom blocks exist for.  With `bloomfilter ROW`
    # set (a table property, like HBase's CF attribute), every write
    # path leaves a `_bloom/<file>.bf` sidecar per data file; point
    # reads prune span survivors through them.  Design + format + the
    # soundness contract live in sources/bloom.py.

    @staticmethod
    def _table_prop(spec: TableSpec, name: str) -> str | None:
        """Case-insensitive table-property lookup — HBase attributes
        are conventionally UPPERCASE (``BLOOMFILTER => 'ROW'``) and a
        silently ignored ``OPTIONS(BLOOMFILTER='ROW')`` would be a
        trap."""
        for k, v in spec.properties.items():
            if k.lower() == name:
                return v
        return None

    @staticmethod
    def _srckey_bloom_enabled(spec: TableSpec) -> bool:
        """Covered-index tables (the ``i:src_key`` payload family
        :meth:`create_covered_index` declares) ALWAYS carry src-key
        Bloom sidecars: incremental index maintenance locates changed
        entries by equality on ``i:src_key`` — a payload column the
        value-sorted layout scatters across every file — so without
        them the locate scans O(index) per DML.  No property gate: the
        build rides writes that are already O(index), and the sidecars
        are strictly a cache (absent ⇒ candidate)."""
        return "src_key" in spec.families.get("i", {})

    def _writer(self, df: DataFrame, spec: TableSpec):
        """DataFrameWriter carrying the table's declared PARQUET-NATIVE
        options.  ``PARQUET_BLOOM_COLUMNS => 'cf:a,cf:b'`` enables
        parquet's own per-column Bloom filters on the listed PAYLOAD
        columns (optionally sized by ``PARQUET_BLOOM_NDV => n``): the
        row-key fast path has its sidecar filters, but an equality
        predicate on a payload column (``cf:status = 'X'``) prunes at
        ROW-GROUP granularity through parquet-mr's filter chain —
        statistics, dictionary, bloom — which Spark's scan applies
        under the ordinary filter pushdown, no custom probe code.  The
        Spark-idiomatic half of the Bloom story: engine-owned filters
        where the engine's reader already consults them, sidecars only
        where it cannot (driver-side point planning).  An undeclared
        column in the list raises loudly (house rule: a silently
        ignored attribute is a trap)."""
        w = df.write
        cols = (
            self._table_prop(spec, "parquet.bloom.columns")
            or self._table_prop(spec, "parquet_bloom_columns")
        )
        if cols:
            names = {f.name for f in spec.schema().fields}
            ndv = (
                self._table_prop(spec, "parquet.bloom.ndv")
                or self._table_prop(spec, "parquet_bloom_ndv")
            )
            for c in [c.strip() for c in cols.split(",") if c.strip()]:
                if c not in names:
                    raise ValueError(
                        f"{spec.qualified_name}: PARQUET_BLOOM_COLUMNS "
                        f"names unknown column {c!r} (have {sorted(names)})"
                    )
                w = w.option(f"parquet.bloom.filter.enabled#{c}", "true")
                if ndv:
                    w = w.option(
                        f"parquet.bloom.filter.expected.ndv#{c}", ndv
                    )
        return w

    def _bloom_enabled(self, spec: TableSpec) -> bool:
        prop = self._table_prop(spec, "bloomfilter") or "NONE"
        return (
            prop.strip().upper() == "ROW"
            and _bloom.supports_key_type(spec.key_type)
        )

    @classmethod
    def _bloom_fpp(cls, spec: TableSpec) -> float:
        try:
            return float(cls._table_prop(spec, "bloomfilter.fpp"))
        except (TypeError, ValueError):
            return _bloom.DEFAULT_FPP

    def build_bloom_filters(self, qualified_name: str) -> int:
        """Backfill Bloom sidecars for the CURRENT generation's files
        that lack one — the catch-up path after ``ALTER TABLE ... SET
        TBLPROPERTIES ('bloomfilter'='ROW')`` on a table that already
        holds data (new writes maintain sidecars themselves).  Runs
        under a generation lease so concurrent DML churn can neither
        sweep the generation mid-build nor change the file list under
        it.  Returns the number of filters built.  Idempotent; a
        concurrent rewrite simply orphans the retired generation's
        sidecars with the generation itself."""
        spec = self.registry.get(qualified_name)
        if not self._bloom_enabled(spec):
            raise ValueError(
                f"{qualified_name}: bloom filters need the table property "
                "bloomfilter=ROW and a string/integral/binary key type "
                f"(key_type={spec.key_type!r})"
            )
        with self._generation_lease(qualified_name) as (src, files):
            need = [
                os.path.basename(full)
                for full in files
                if not os.path.exists(
                    _bloom.sidecar_path(src, os.path.basename(full))
                )
            ]
            # a backfilled generation may have no span manifest (the
            # swap writes it best-effort); without one, the `_bloom`
            # directory this build creates makes
            # _point_read_metadata_available answer True while every
            # point get still pays the O(files) serial footer walk in
            # _span_candidates — the exact walk the gate exists to
            # prevent.  Write the manifest here, under the writer lock
            # (sidecar creation and merges take it too, so this cannot
            # race _maybe_merge_span_sidecars into dropping entries).
            if not self._load_span_stats(src):
                try:
                    with self._table_write_lock(
                        self.table_root(spec), timeout=10.0
                    ):
                        if not self._load_span_stats(src):
                            self._write_span_manifest(src)
                except ConcurrentWriteConflictError:
                    pass  # cache backfill: skip quietly under contention
            if not need:
                return 0
            # zero-row files build no filter (nothing to probe; span
            # pruning drops them outright), so count what was BUILT
            return len(self._build_bloom_files(spec, src, need))

    def _carry_bloom_sidecars(
        self, src_path: str, dst_path: str, files: list[str]
    ) -> None:
        """Hardlink the Bloom sidecars of ``files`` from ``src_path``
        into ``dst_path`` (append link-in, snapshot capture) — files
        without one are simply uncovered (candidates on probe).  Both
        sidecar families ride the carry: row-key filters (``_bloom``)
        and, on index tables, src-key filters (``_bloom-srckey``)."""
        for subdir in (_bloom.BLOOM_DIR, _bloom.SRCKEY_DIR):
            for fname in files:
                src = _bloom.sidecar_path(src_path, fname, subdir)
                dst = _bloom.sidecar_path(dst_path, fname, subdir)
                if os.path.exists(src) and not os.path.exists(dst):
                    os.makedirs(os.path.dirname(dst), exist_ok=True)
                    self._link_or_copy(src, dst)

    def _write_bloom_filters(
        self,
        spec: TableSpec,
        gen_path: str,
        reuse_path: str | None = None,
    ) -> None:
        """Ensure every data file of ``gen_path`` has a Bloom sidecar
        (no-op unless the table enables them): hardlink-carry sidecars
        from ``reuse_path`` by name — valid for carried files exactly
        like span-manifest entries (same name ⇒ identical content) —
        and build the rest distributively.  Called on PRIVATE staging
        before the generation flip, so no lock is needed."""
        jobs = []
        if self._bloom_enabled(spec):
            jobs.append((ROW_KEY, _bloom.BLOOM_DIR))
        if self._srckey_bloom_enabled(spec):
            jobs.append(("i:src_key", _bloom.SRCKEY_DIR))
        if not jobs:
            return
        files = self._data_files(gen_path)
        if not files:
            return
        if reuse_path:
            self._carry_bloom_sidecars(reuse_path, gen_path, files)
        for column, subdir in jobs:
            need = [
                f
                for f in files
                if not os.path.exists(
                    _bloom.sidecar_path(gen_path, f, subdir)
                )
            ]
            if need:
                self._build_bloom_files(
                    spec, gen_path, need, column=column, subdir=subdir
                )

    def _build_bloom_files(
        self,
        spec: TableSpec,
        gen_path: str,
        files: list[str],
        rows_by_file: dict | None = None,
        column: str = ROW_KEY,
        subdir: str = _bloom.BLOOM_DIR,
    ) -> list[str]:
        """Bloom-sidecar build over exactly ``files``; returns the
        subset a filter was built for (zero-row and unreadable files
        are skipped).  Small builds (≤ ``_BLOOM_DRIVER_BUILD_MAX`` rows
        total — selective-DML rewrites, small appends) run driver-side
        from bounded pyarrow key reads; everything larger runs the
        distributed two-stage job below.

        Two stages, neither of which ever moves keys to the driver or
        shuffles them: ``mapInPandas`` folds each input partition into
        per-file PARTIAL bitmaps (row-local, Arrow-batched; parquet
        splits never span files, so a partition contributes to one
        file's bitmap), then ``groupBy(file)`` ORs the partials and the
        aggregating TASK writes the sidecar — the shuffle carries
        bitmaps (input-partitions × m/8 bytes), the driver collects one
        count row per file.  Bitmap sizing comes from the span
        manifest's per-file row counts (footer fallback), so the build
        reads each file's DATA once and its metadata not at all."""
        import pyarrow.parquet as pq
        from pyspark.sql import types as T

        fpp = self._bloom_fpp(spec)
        rows_known = dict(rows_by_file or {})
        spans = None
        params: dict[str, tuple[int, int]] = {}
        for fname in files:
            rows = rows_known.get(fname)
            if rows is None:
                if spans is None:
                    spans = self._load_span_stats(gen_path)
                rec = spans.get(fname)
                rows = rec[2] if rec is not None else None
            if rows is None:
                try:
                    rows = pq.read_metadata(
                        os.path.join(gen_path, fname)
                    ).num_rows
                except Exception:
                    continue  # unreadable: no sidecar, file stays a candidate
            if rows <= 0:
                continue
            params[fname] = (rows, _bloom.params_for(rows, fpp))
        if not params:
            return []

        # small subtotal: build DRIVER-side from bounded pyarrow key
        # reads instead of paying a two-stage Spark job's fixed cost —
        # the common case for selective DML (the rewritten subset is a
        # file or two) and exactly where the job overhead would swamp
        # the locate savings at gate scale.  The cap bounds the driver
        # read (~a few MB of keys); large builds (fresh loads, major
        # compactions, backfills) take the distributed path where the
        # shuffle carries bitmaps, never keys.
        if sum(r for r, _mk in params.values()) <= self._BLOOM_DRIVER_BUILD_MAX:
            built = []
            for fname, (rows, (m, k)) in params.items():
                try:
                    col = pq.read_table(
                        os.path.join(gen_path, fname),
                        columns=[column],
                    ).column(0)
                except Exception:
                    continue  # unreadable: no sidecar, file stays candidate
                bits = bytearray((m + 7) >> 3)
                _bloom.add_keys(bits, col.to_pylist(), m, k)
                _bloom.write_sidecar(gen_path, fname, m, k, bits, subdir)
                built.append(fname)
            return built
        params = {fname: mk for fname, (rows, mk) in params.items()}

        key_field = next(
            f for f in spec.schema().fields if f.name == column
        )
        # Arrow→pandas promotes an integral key column CONTAINING NULLS
        # to float64, whose values encode_key refuses (and whose
        # rounding above 2^53 would silently corrupt the hash input) —
        # every key in such a batch would be dropped from the sidecar,
        # a Bloom FALSE NEGATIVE.  Cast non-binary keys to string
        # JVM-side instead: Spark's decimal rendering of an integral
        # equals the probe side's ``b"%d"`` encoding byte-for-byte, a
        # string key casts to itself, and NULLs stay None in an object
        # column.  Binary keys stay binary (pandas keeps them as bytes
        # objects — no dtype promotion — and a UTF-8 round-trip through
        # string would be lossy).
        key_col = F.col(f"`{column}`")
        if not isinstance(key_field.dataType, T.BinaryType):
            key_col = key_col.cast("string")
        src = (
            self.spark.read.schema(T.StructType([key_field]))
            .parquet(
                *[os.path.join(gen_path, f) for f in params]
            )
            .select(F.input_file_name().alias("_f"), key_col.alias("_k"))
        )
        B = _bloom
        target = gen_path
        sub = subdir

        def _partials(batches):
            from urllib.parse import unquote

            import pandas as pd

            acc: dict[str, bytearray] = {}
            for pdf in batches:
                bases = pdf["_f"].map(
                    lambda u: unquote(u.rsplit("/", 1)[-1])
                )
                for base, grp in pdf.groupby(bases):
                    mk = params.get(base)
                    if mk is None:
                        continue
                    m, k = mk
                    arr = acc.get(base)
                    if arr is None:
                        arr = acc[base] = bytearray((m + 7) >> 3)
                    B.add_keys(arr, grp["_k"], m, k)
            if acc:
                yield pd.DataFrame(
                    {
                        "file": list(acc),
                        "bits": [bytes(a) for a in acc.values()],
                    }
                )

        def _finish(key, pdf):
            import numpy as np
            import pandas as pd

            base = key[0]
            m, k = params[base]
            agg = np.zeros((m + 7) >> 3, dtype=np.uint8)
            for blob in pdf["bits"]:
                part = np.frombuffer(blob, dtype=np.uint8)
                if part.shape == agg.shape:
                    agg |= part
            B.write_sidecar(target, base, m, k, agg.tobytes(), sub)
            return pd.DataFrame({"file": [base], "partials": [len(pdf)]})

        (
            src.mapInPandas(_partials, "file string, bits binary")
            .groupBy("file")
            .applyInPandas(_finish, "file string, partials int")
            .collect()  # one tiny row per file — drives the job
        )
        return list(params)

    def _parse_condition(self, condition: str):
        """Spark-parsed expression tree of a DML condition (the same
        parser execution uses, so quoting/precedence match exactly), or
        ``None`` on any parse failure — callers degrade to no pruning."""
        try:
            return (
                self.spark._jsparkSession.sessionState()
                .sqlParser()
                .parseExpression(condition)
            )
        except Exception:
            return None

    @staticmethod
    def _jexpr_is_rowkey(e) -> bool:
        return (
            e.getClass().getSimpleName() == "UnresolvedAttribute"
            and e.name().lower() == ROW_KEY
        )

    @staticmethod
    def _jexpr_lit_val(e):
        """Native value of a string or integral literal (None
        otherwise).  Kept TYPED: an int bound only ever prunes against
        int footer stats and a str bound against str stats
        (:meth:`_span_candidates` treats incomparable types as
        candidates), so each comparison that CAN happen matches
        Spark's own ordering for that key type — str via UTF-8
        code-point order, int natively.  The ONE literal-typing rule
        both condition walkers (:meth:`_rowkey_interval`,
        :meth:`_rowkey_points`) share."""
        if (
            e.getClass().getSimpleName() == "Literal"
            and e.value() is not None
        ):
            t = e.dataType().typeName()
            if t == "string":
                return str(e.value())
            if t in ("integer", "long", "short", "byte"):
                return int(e.value())
        return None

    def _rowkey_points(self, condition: str) -> set | None:
        """Conservative SET of row_key values a DML condition could
        match, or ``None`` when the condition is not point-shaped.
        Sound by construction — the set only ever CONSTRAINS (a
        returned set S means every matching row's key ∈ S): equality
        and all-literal ``IN`` yield their values, OR unions two sets
        (either side unknown ⇒ unknown), AND intersects two sets and
        passes a single known side through (the other conjunct can
        only narrow further), and anything unrecognized — including
        ranges, NOT, non-key predicates at the top — yields unknown.
        Walks the same Spark-parsed tree as :meth:`_rowkey_interval`,
        through the same shared helpers."""
        jexpr = self._parse_condition(condition)
        if jexpr is None:
            return None
        is_rowkey = self._jexpr_is_rowkey
        lit_val = self._jexpr_lit_val

        def walk(e):
            try:
                name = e.getClass().getSimpleName()
                ch = e.children()
                kids = [ch.apply(i) for i in range(ch.size())]
                if name == "And" and len(kids) == 2:
                    l, r = walk(kids[0]), walk(kids[1])
                    if l is not None and r is not None:
                        return l & r
                    return l if l is not None else r
                if name == "Or" and len(kids) == 2:
                    l, r = walk(kids[0]), walk(kids[1])
                    if l is None or r is None:
                        return None
                    return l | r
                if name in ("EqualTo", "EqualNullSafe") and len(kids) == 2:
                    a, b = kids
                    if not is_rowkey(a):
                        a, b = b, a
                    if not is_rowkey(a):
                        return None
                    v = lit_val(b)
                    return None if v is None else {v}
                if name == "In" and kids and is_rowkey(kids[0]):
                    vals = [lit_val(k) for k in kids[1:]]
                    if not vals or any(v is None for v in vals):
                        return None
                    return set(vals)
                return None
            except Exception:
                return None

        return walk(jexpr)

    def _rowkey_interval(self, condition: str) -> tuple | None:
        """Conservative row_key interval ``[lo, hi]`` implied by a SQL
        DML condition, or ``None`` when nothing is provable — the
        reference's RowFilter fast path (SURVEY §2.A A4) applied to
        mutations: a region-local DELETE/UPDATE reads one region's
        footers, not the table.  Sound by construction: a file is only
        pruned when the interval PROVES no row can match — AND
        intersects child intervals, OR unions them (either side
        unbounded ⇒ unbounded), and anything unrecognized (NOT,
        non-string/non-integral literals, LIKE with a custom ESCAPE,
        expressions over the key, other columns) widens to unbounded;
        bounds stay natively TYPED so they can never compare against a
        different-typed footer stat (incomparable ⇒ candidate).  Walks
        Spark's own parsed expression tree so quoting/precedence match
        execution exactly; any parse or walk failure degrades to no
        pruning, never to a wrong prune."""
        jexpr = self._parse_condition(condition)
        if jexpr is None:
            return None
        UNB = (None, None)
        is_rowkey = self._jexpr_is_rowkey
        lit_val = self._jexpr_lit_val

        def walk(e):
            try:
                name = e.getClass().getSimpleName()
                ch = e.children()
                kids = [ch.apply(i) for i in range(ch.size())]
                if name == "And" and len(kids) == 2:
                    l, r = walk(kids[0]), walk(kids[1])
                    lo = max(
                        (x for x in (l[0], r[0]) if x is not None),
                        default=None,
                    )
                    hi = min(
                        (x for x in (l[1], r[1]) if x is not None),
                        default=None,
                    )
                    return (lo, hi)
                if name == "Or" and len(kids) == 2:
                    l, r = walk(kids[0]), walk(kids[1])
                    lo = (
                        None
                        if l[0] is None or r[0] is None
                        else min(l[0], r[0])
                    )
                    hi = (
                        None
                        if l[1] is None or r[1] is None
                        else max(l[1], r[1])
                    )
                    return (lo, hi)
                if name in (
                    "EqualTo",
                    "EqualNullSafe",
                    "GreaterThan",
                    "GreaterThanOrEqual",
                    "LessThan",
                    "LessThanOrEqual",
                ) and len(kids) == 2:
                    flipped = False
                    a, b = kids
                    if not is_rowkey(a):
                        a, b, flipped = b, a, True
                    if not is_rowkey(a):
                        return UNB
                    v = lit_val(b)
                    if v is None:
                        return UNB
                    if name in ("EqualTo", "EqualNullSafe"):
                        return (v, v)
                    lower = name in ("GreaterThan", "GreaterThanOrEqual")
                    if flipped:  # lit > key  ≡  key < lit
                        lower = not lower
                    return (v, None) if lower else (None, v)
                if name == "In" and kids and is_rowkey(kids[0]):
                    vals = [lit_val(k) for k in kids[1:]]
                    if not vals or any(v is None for v in vals):
                        return UNB
                    return (min(vals), max(vals))
                if name == "Like" and len(kids) == 2 and is_rowkey(kids[0]):
                    # a custom ESCAPE changes which characters are
                    # wildcards — `LIKE 'a!!%' ESCAPE '!'` means prefix
                    # "a!", not "a!!" — so only the default escape is
                    # prefix-analyzable (escapeChar is a constructor
                    # arg, NOT a child, hence the explicit accessor)
                    if str(e.escapeChar()) != "\\":
                        return UNB
                    pat = lit_val(kids[1])
                    if (
                        isinstance(pat, str)
                        and pat.endswith("%")
                        and not any(c in pat[:-1] for c in "%_\\")
                        and pat != "%"
                    ):
                        prefix = pat[:-1]
                        return (prefix, self._prefix_upper_bound(prefix))
                    return UNB
                if name == "UnresolvedFunction" and len(kids) == 3:
                    # `key BETWEEN a AND b` parses to between(key, a, b)
                    fn = e.nameParts().last().lower()
                    if fn == "between" and is_rowkey(kids[0]):
                        lo, hi = lit_val(kids[1]), lit_val(kids[2])
                        if lo is not None and hi is not None:
                            return (lo, hi)
                    return UNB
                return UNB
            except Exception:
                return UNB

        lo, hi = walk(jexpr)
        if lo is None and hi is None:
            return None
        return (lo, hi)

    def _key_span(self, path: str, files, stats: dict | None = None) -> tuple:
        """[min, max] row_key over the given data files — stats from
        the caller's collected dict (``stats``, from the same attempt's
        :meth:`_span_candidates` pass), else the generation's span
        manifest, else a live footer read via :meth:`_file_key_range`;
        untrustworthy stats fall through to the exact single-file
        key-column read either way."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        cached = None
        lo = hi = None
        for fname in files:
            full = os.path.join(path, fname)
            rec = stats.get(fname) if stats is not None else None
            if rec is None:
                if cached is None:  # load the manifest at most once
                    cached = self._load_span_stats(path)
                rec = cached.get(fname)
            if rec is not None:
                f_lo, f_hi, rows = rec[0], rec[1], rec[2]
                if rows and not rec[3]:
                    # stats untrustworthy but already READ — go straight
                    # to the exact key-column read, no second footer open
                    keys = pq.read_table(full, columns=[ROW_KEY]).column(0)
                    f_lo, f_hi = pc.min(keys).as_py(), pc.max(keys).as_py()
            else:
                f_lo, f_hi, rows = self._file_key_range(full)
            if rows == 0:
                continue
            lo = f_lo if lo is None or f_lo < lo else lo
            hi = f_hi if hi is None or f_hi > hi else hi
        return lo, hi

    def fast_count(self, qualified_name: str) -> int:
        """Exact row count with ZERO Spark jobs — parquet footer
        metadata (served from the span manifest where it covers a
        file), the HBase ``RowCounter``-without-the-scan a 100 TB table
        wants: ``SELECT COUNT(*)`` scans (or at best
        metadata-aggregates) every file through the cluster; this is an
        O(files) driver-side sum of exact footer row counts over the
        CURRENT generation's membership.  Counts physical rows — on a
        VERSIONED table that is cells, not live keys (same contract as
        ``read().count()`` there)."""
        spec = self.registry.get(qualified_name)
        return self._footer_row_count(self.table_path(spec))

    @staticmethod
    def _footer_row_count_file(full: str) -> int:
        import pyarrow.parquet as pq

        return pq.read_metadata(full).num_rows

    def _footer_row_count(self, path: str) -> int:
        """Exact table row count from parquet footer metadata, zero
        Spark jobs (the ``region_stats`` footer-only discipline applied
        to counting).  Served from the span manifest when it covers the
        file — ``rows`` is ``md.num_rows``, exact regardless of the
        min/max ``exact`` flag — with live footer reads for the rest."""
        cached = self._load_span_stats(path)
        total = 0
        for fname in self._data_files(path):
            rec = cached.get(fname)
            total += (
                rec[2]
                if rec is not None
                else self._footer_row_count_file(
                    os.path.join(path, fname)
                )
            )
        return total

    # a MERGE batch at or under this many rows collects its keys for the
    # driver-side Bloom probe of locate candidates (~100 KiB of keys);
    # larger batches rely on span pruning + the distributed locate
    _BLOOM_MERGE_PROBE_MAX = 4096

    # a pinned probe of at least this many keys per candidate file is
    # DENSE: a locate scan would almost surely mark every candidate
    # affected, so upsert and the index delta skip it and rewrite the
    # candidates directly (sound: the merge window and the index
    # anti-join leave an unmatched file's rows untouched)
    _DENSE_KEYS_PER_FILE = 64

    # a bloom build whose files total at most this many rows runs
    # driver-side (bounded pyarrow key reads, no Spark job); above it,
    # the two-stage distributed build runs
    _BLOOM_DRIVER_BUILD_MAX = 262_144

    # -- upsert (MERGE INTO ... UPDATE SET * / INSERT * analogue) ---------
    def upsert(self, qualified_name: str, df: DataFrame) -> None:
        """Row-key upsert: rows in ``df`` REPLACE same-key rows in the
        table, new keys append — the ``MERGE INTO ... WHEN MATCHED THEN
        UPDATE SET * WHEN NOT MATCHED THEN INSERT *`` semantics (the one
        write primitive HBase users take for granted: a Put overwrites
        the cell).

        Implementation (single-pass, SELECTIVE): one broadcast-semi
        locate scan finds the files whose rows MATCH an incoming key;
        only those files join the merge — tag their rows 0 / source
        rows 1, union, one count-over-key window picks the winners
        (source row wins its key; matched-file rows with no source twin
        survive unchanged), one range-partitioned key-sorted write of
        that subset — while every untouched file rides into the new
        generation as a HARDLINK.  At 100 TB a batch MERGE touching a
        few regions rewrites those regions, not the table (HBase Put
        semantics ARE region-local); new keys matching no file append
        as fresh sorted runs in the same atomic swap.  The SOURCE IS
        EVALUATED EXACTLY ONCE (the batch pin, :meth:`_pin_batch`;
        pinned by ``test_upsert_evaluates_source_once``) and the merge
        window rides the subset's ONE range exchange (pinned by
        ``test_upsert_single_shuffle``).  The MERGE law "multiple
        source rows per key is an error" (HBase would last-wins, but
        "which last" is undefined for a batch) is enforced IN the same
        plan: an ``Observation`` on the per-key source count is checked
        after the staging write and BEFORE the generation pointer
        flips, so a duplicate-key source aborts the swap with the table
        untouched.

        Covered indexes registered on the table are maintained in the
        same call (Phoenix index-maintenance semantics; reference
        analogue: post-write refresh, ``InsertIntoHBaseTable.scala:110``)
        by the commit tail, :meth:`_commit`: a small batch by delta, a
        large one by rebuild.
        """

        spec = self.registry.get(qualified_name)
        cur = self.read(qualified_name)
        cols = cur.columns
        if sorted(df.columns) != sorted(cols):
            raise ValueError(
                f"upsert source columns {sorted(df.columns)} != table "
                f"columns {sorted(cols)}"
            )
        # pin the BATCH-sized source once (:meth:`_pin_batch`): the
        # locate semi-join, the range exchange's bounds sampler, the
        # dup-check, and the written rows all read the same
        # materialization, so a nondeterministic source cannot diverge;
        # the TABLE side streams lazily from parquet.  The pin's span
        # and keys are generation-independent; everything from path
        # resolution down re-runs per CAS-retry attempt.
        b = self._pin_batch(df.select(*[F.col(f"`{c}`") for c in cols]), ROW_KEY)
        if not b.n:
            return  # empty MERGE source: nothing to do, no swap
        # HBase parity: a Put without a row key is invalid — and a NULL
        # key would silently fall through BOTH sides of the key-span
        # split below (NULL `between` filters), vanishing without error
        if b.n_null:
            raise ValueError(
                "MERGE source contains NULL row_key values; every row "
                "needs a key"
            )
        incoming = b.frame
        keys = incoming.select(ROW_KEY)
        schema = spec.schema()

        def attempt() -> tuple:
            path = self.table_path(spec)
            # candidate pruning BEFORE the locate scan: only files whose
            # footer key range intersects the batch's [min, max] can
            # contain a matched key — the semi-join locate then reads
            # candidates only (a broadcast semi-join cannot prune its
            # scan side the way a pushed predicate can, so at scale a
            # region-local batch would otherwise pay a full-table locate
            # read).  The footer stats collected here feed the span and
            # row-count consumers downstream, so each attempt opens
            # every footer ONCE.
            stats: dict = {}  # one record per data file of the generation
            candidates = self._candidate_files(
                spec, path, (b.lo, b.hi), b.keys, stats
            )
            affected: dict | list | None = None
            if (
                candidates
                and len(candidates) == len(stats)
                and len(stats) <= self._n_regions(spec)
            ):
                # every file intersects the batch span and the table is
                # no larger than its region fan-out (a toy or freshly-
                # compacted layout); if the batch is also DENSE
                # (``_DENSE_KEYS_PER_FILE``) a locate scan would almost
                # surely mark every file affected anyway — skip the job
                # and treat all candidates as affected (the merge window
                # leaves unmatched rows untouched, so the result is
                # identical).
                # A small batch still locates, keeping region-confined
                # MERGE O(affected); at scale files exceed the region
                # fan-out and this never triggers.
                if b.n >= self._DENSE_KEYS_PER_FILE * len(stats):
                    affected = candidates
            if affected is None:
                affected = self._locate_affected_files(
                    spec,
                    lambda d: d.join(F.broadcast(keys), ROW_KEY, "left_semi"),
                    files=candidates,
                )
            return None, True, self._upsert_rewrite(
                spec, incoming, (keys, b.keys), affected, path, schema,
                batch_span=(b.lo, b.hi), footer_stats=stats, n_changed=b.n,
            )

        self._commit(qualified_name, attempt)

    def _upsert_rewrite(
        self, spec, incoming, changed, affected, path, schema, batch_span,
        footer_stats, n_changed, drop_keys=None, new_run_known_empty=False,
    ) -> tuple | None:
        """The merge-window rewrite behind :meth:`upsert`, one attempt
        against one resolved generation (``path``/``affected``).
        Returns ``changed`` — the write's index delta, e.g. the batch's
        ``(keys frame, driver-side keys or None)`` — when the
        ``n_changed`` keys fit :meth:`_index_delta_fits` against the
        pre-swap rows of ``footer_stats`` (the attempt's candidate
        stats, one record per data file), else ``None`` (full rebuild).
        ``batch_span`` is the incoming batch's ``(min, max)`` key.

        Layout.  When the rewrite CARRIES NOTHING (every file of the
        generation is affected or holds no rows,
        :meth:`_carries_nothing`) every incoming row merges in the one
        range exchange over ``len(affected)`` partitions: no carried
        file's span needs keeping clear, so a dense rewrite keeps its
        file count.
        Otherwise the batch splits at the affected span and its new
        keys outside it write a run of their own: at most one sorted
        file per side of the span when the driver holds the batch's
        keys (``changed[1]``) and the table declares no split keys,
        else the table's region layout."""
        from pyspark.sql import Observation, Window

        observations: list[Observation] = []

        def no_source_dups() -> None:
            for o in observations:
                if (o.get["max_src_per_key"] or 0) > 1:
                    raise ValueError(
                        "MERGE source contains duplicate row_key values; "
                        "deduplicate the source first"
                    )

        listing = self._data_files(path)
        new_run_known = batch_span is not None
        lo = hi = None
        if affected:
            sub = self.spark.read.schema(schema).parquet(
                *[os.path.join(path, f) for f in affected]
            )
            if drop_keys is not None:
                # batched mutate(): deleted keys leave the affected
                # files with NO replacement row — the merge window below
                # only replaces keys that have an incoming row.  NULL
                # keys never match an anti-join probe, so NULL-key rows
                # are kept (same law as delete_where)
                sub = sub.join(F.broadcast(drop_keys), ROW_KEY, "left_anti")
            if self._carries_nothing(path, listing, affected, footer_stats):
                # no row is carried: fold every incoming row into the
                # merge (no new-key run beside it)
                merge_in, new_run = incoming, None
            else:
                # split the batch at the affected files' key span: keys
                # inside it merge with those files; keys OUTSIDE become
                # their own fresh sorted run — folding a far-away new
                # key into the rewritten region file would widen that
                # file's min/max range across a CARRIED file's keyspace,
                # wrecking pruning and re-marking it "affected" for
                # every later DML.  (A key can only MATCH inside the
                # span, so the split cannot separate a duplicate pair
                # or orphan a match; span bounds come from the same
                # footer stats region pruning trusts.)
                lo, hi = self._key_span(path, affected, stats=footer_stats)
                in_span = F.col(ROW_KEY).between(F.lit(lo), F.lit(hi))
                merge_in = incoming.filter(in_span)
                new_run = incoming.filter(~in_span)
                # the batch's min and max are batch keys, so
                # ~between(lo, hi) is empty exactly when both sit inside
                # the affected span — decided driver-side instead of by
                # a take(1) job (sound: for str/bytes Python ordering
                # equals Spark's UTF8String/Binary byte ordering because
                # UTF-8 preserves code-point order; other or mixed types
                # keep the take(1))
                new_run_known = (
                    batch_span is not None
                    and type(batch_span[0]) is type(lo)
                    and type(batch_span[1]) is type(hi)
                    and isinstance(lo, (str, bytes, int))
                )
                if new_run_known and lo <= batch_span[0] and batch_span[1] <= hi:
                    new_run = None
            tagged = sub.withColumn("__src", F.lit(0)).unionByName(
                merge_in.withColumn("__src", F.lit(1))
            )
            # range-partition BEFORE the window: RangePartitioning
            # clusters equal keys, satisfying the window's distribution
            # requirement, so the merge window and the key-sorted layout
            # share ONE exchange over the affected subset (hash-window-
            # then-repartitionByRange would shuffle it twice)
            tagged = tagged.repartitionByRange(len(affected), ROW_KEY)
            w = Window.partitionBy(ROW_KEY)
            counted = tagged.withColumn("__n_src", F.sum("__src").over(w))
            merged = counted.filter(
                (F.col("__src") == 1) | (F.col("__n_src") == 0)
            )
            obs = Observation()
            observations.append(obs)
            merged = merged.observe(obs, F.max("__n_src").alias("max_src_per_key"))
            out_merged = self._conform(schema, merged.drop("__src", "__n_src"))
            if spec.split_keys:
                # pre-split table: affected files from non-adjacent
                # regions would fold into boundary-straddling files
                # under the joint sampled repartition above — reroute
                # by the declared boundaries.  The extra exchange is
                # bounded by the affected subset and only paid by
                # declared-split tables.
                out_merged = self._region_layout(spec, out_merged)
            else:
                out_merged = out_merged.sortWithinPartitions(ROW_KEY)
        else:
            # every incoming key is new: the "merge" is a pure append of
            # one fresh sorted run (still through the atomic swap); a
            # known batch span means a non-empty batch
            out_merged = None
            new_run = incoming
        if new_run_known_empty:
            # caller proved the incoming batch is empty (a fused replay
            # whose puts were all cancelled by deletes)
            new_run = None
        if new_run is not None and (new_run_known or bool(new_run.take(1))):
            w2 = Window.partitionBy(ROW_KEY)
            obs2 = Observation()
            observations.append(obs2)
            new_counted = new_run.withColumn(
                "__n_src", F.count(F.lit(1)).over(w2)
            ).observe(obs2, F.max("__n_src").alias("max_src_per_key"))
            out_new = self._conform(schema, new_counted.drop("__n_src"))
            if changed[1] is None or spec.split_keys:
                # a batch over the pin cap gets the region-count fan-out
                # every append batch gets from insert(), so it does not
                # serialize through one partition; a declared-split
                # table routes its new keys by its boundaries
                out_new = self._region_layout(spec, out_new)
            else:
                # a driver-resident batch (at most
                # ``_BLOOM_MERGE_PROBE_MAX`` rows) writes ONE sorted
                # file per side of the affected span: each side maps to
                # its own shuffle partition through the probed hash
                # tokens (no sampling job), an empty side writes no
                # file, and no file straddles the span
                side = (
                    F.lit(0) if hi is None
                    else (F.col(ROW_KEY) > F.lit(hi)).cast("int")
                )
                toks = self._partition_tokens(2)
                token = F.element_at(
                    F.array(*[F.lit(int(t)) for t in toks]), side + F.lit(1)
                ).cast("int")
                out_new = out_new.repartition(
                    1 if hi is None else 2, token
                ).sortWithinPartitions(ROW_KEY)
        else:
            out_new = None

        # index route BEFORE the swap: the pre-swap total is in hand from
        # the attempt's candidate-pruning stats pass (no footer re-read)
        table_rows = sum(rec[2] for rec in footer_stats.values())
        outs = [o for o in (out_merged, out_new) if o is not None]
        if outs:
            self._swap_write_with_carry(
                spec, outs, path, set(affected), validate=no_source_dups,
                listing=listing,
            )
        if not self._index_delta_fits(n_changed, table_rows):
            return None
        return changed

    # -- conditional mutations (HBase checkAndPut / checkAndDelete) -------
    #
    # HBase's Table API guarantees an atomic read-compare-mutate on one
    # row (checkAndPut/checkAndDelete: apply the mutation iff the
    # current value of one cell equals the expected value; null expected
    # = cell absent).  The generational CAS makes the same guarantee
    # here WITHOUT row locks: the check reads the generation the attempt
    # resolved, the rewrite's swap names that generation as its CAS
    # base, so any concurrent commit between check and flip refuses the
    # flip and the whole attempt — check included — re-runs against the
    # winner's state.  Serializable by construction, lock-held time
    # unchanged (the flip instant only).

    def check_and_put(
        self,
        qualified_name: str,
        check_key,
        check_col: str,
        expected,
        row: dict,
    ) -> bool:
        """Atomically apply a single-row Put iff the current value of
        ``(check_key, check_col)`` equals ``expected`` (``None`` = cell
        absent: no row, or a NULL qualifier — the flat ``cf:qualifier``
        model stores "no cell" as NULL).  ``row`` maps columns to the
        new values; unlisted qualifiers become NULL (a Put writes the
        whole flat row here), and like HBase the mutation may only
        target the CHECKED row.  Returns True iff the Put was applied.
        Value comparison is plain Python equality on the stored native
        type."""
        spec = self.registry.get(qualified_name)
        self._require_column(spec, check_col)
        self._check_put_row(spec, check_key, row)
        idx = [f.name for f in spec.schema().fields].index(check_col)

        def put(cur_row, present):
            if (cur_row[idx] if present else None) != expected:
                return None
            return True, row

        return self._conditional_put(qualified_name, check_key, put)

    def _conditional_put(
        self, qualified_name: str, key, put, attempts: int = 8
    ):
        """The shared conditional-Put engine: resolve ONE generation,
        point-read the key's current row from it (span + Bloom
        candidate files), and ask ``put(current_row, present)`` for
        ``(result, row)`` — the Put's columns — or ``None`` to refuse
        (the call then returns False).  The single-row merge's swap
        names that same generation as its CAS base, so a concurrent
        commit between the read and the flip re-runs the whole
        attempt, read included; after ``attempts`` lost races it raises
        :class:`ConcurrentWriteConflictError`.  Returns ``result``."""
        spec = self.registry.get(qualified_name)
        schema = spec.schema()
        names = [f.name for f in schema.fields]

        def attempt():
            path = self.table_path(spec)
            stats: dict = {}
            files = self._candidate_files(spec, path, (key, key), None, stats)
            cur_row, home = self._point_row(spec, path, files, key)
            decided = put(cur_row, home is not None)
            if decided is None:
                return False, False, None
            result, row = decided
            full = {**row, ROW_KEY: key}
            incoming = self._local_frame(
                [tuple(full.get(c) for c in names)], schema
            )
            keys = incoming.select(ROW_KEY)
            # the check read located the key's one row (or proved it
            # absent: the insert-style checkAndPut appends a fresh run)
            affected = {} if home is None else {home: 1}
            delta = self._upsert_rewrite(
                spec, incoming, (keys, [key]), affected, path, schema,
                batch_span=(key, key), footer_stats=stats, n_changed=1,
            )
            return result, True, delta

        return self._commit(qualified_name, attempt, attempts)

    def check_and_delete(
        self,
        qualified_name: str,
        check_key,
        check_col: str,
        expected,
    ) -> bool:
        """Atomically delete the ``check_key`` row iff the current value
        of ``(check_key, check_col)`` equals ``expected`` — HBase
        ``checkAndDelete`` (``None`` expected = cell absent).  Returns
        True iff the check passed (deleting an absent row is a no-op
        success, exactly like HBase deleting a row that isn't there)."""
        spec = self.registry.get(qualified_name)
        self._require_column(spec, check_col)
        self._check_put_row(spec, check_key, {})
        cond = F.col(ROW_KEY) == F.lit(check_key)
        idx = [f.name for f in spec.schema().fields].index(check_col)

        def attempt():
            path = self.table_path(spec)
            files = self._candidate_files(spec, path, (check_key, check_key))
            cur_row, home = self._point_row(spec, path, files, check_key)
            current = cur_row[idx] if home is not None else None
            if current != expected:
                return False, False, None
            if home is None:
                return True, False, None  # nothing to delete; check passed
            # the check read located the key's one row
            affected = {home: 1}
            delta = self._capture_changed_keys(
                spec, affected, lambda d: d.filter(cond), 1, path
            )
            # same NULL-predicate law as delete_where: a NULL-key row
            # in an affected file evaluates cond to NULL, and ~NULL
            # would silently DROP it — coalesce keeps it
            keep = ~F.coalesce(cond, F.lit(False))
            self._selective_rewrite(
                spec, affected, lambda d: d.filter(keep), path=path
            )
            return True, True, delta

        return self._commit(qualified_name, attempt)

    def increment(
        self,
        qualified_name: str,
        key,
        col: str,
        delta: int = 1,
        retries: int = 16,
    ):
        """HBase ``Table.increment``: atomically add ``delta`` to one
        numeric cell and return the new value.  An absent row/cell
        starts from 0, exactly like HBase's Increment on a missing
        counter.  Rides :meth:`_read_modify_write`: the new row is
        built from the attempt's own point read, so a concurrent write
        to any qualifier of the row re-runs the attempt instead of
        being overwritten (HBase single-row atomicity), and no
        concurrent increment is lost.  ``retries`` is the number of
        attempts before :class:`ConcurrentWriteConflictError`."""
        return self._read_modify_write(
            qualified_name, key, col, lambda cur: (cur or 0) + delta, retries
        )

    def append_cell(
        self,
        qualified_name: str,
        key,
        col: str,
        value,
        retries: int = 16,
    ):
        """HBase ``Table.append``: atomically append ``value`` to one
        string/binary cell and return the new value (absent cell =
        start from the value itself).  Same read-modify-write as
        :meth:`increment`."""
        return self._read_modify_write(
            qualified_name, key, col,
            lambda cur: value if cur is None else cur + value, retries,
        )

    def _read_modify_write(
        self, qualified_name: str, key, col: str, combine, retries: int
    ):
        """Single-cell read-modify-write as one conditional Put: the
        attempt's point read supplies the whole current row, ``col``
        becomes ``combine(current_cell)``, and every other qualifier
        is written back as read — the generation CAS makes the read and
        the write one atomic step over the entire row."""
        spec = self.registry.get(qualified_name)
        self._require_column(spec, col)
        self._check_put_row(spec, key, {})
        if retries < 1:
            raise ValueError(f"retries must be at least 1, got {retries}")
        names = [f.name for f in spec.schema().fields]

        def put(cur_row, present):
            base = dict(zip(names, cur_row)) if present else {}
            base.pop(ROW_KEY, None)
            base[col] = combine(base.get(col))
            return base[col], base

        return self._conditional_put(qualified_name, key, put, retries)

    _MUTATE_OPS = frozenset(
        {"put", "check_put", "delete", "check_delete", "increment", "append"}
    )

    def mutate(
        self,
        qualified_name: str,
        ops: list[dict],
    ) -> list[dict]:
        """HBase ``Table.batch()`` parity: fold N INDEPENDENT single-row
        mutations into ONE locate + rewrite + generation-CAS commit —
        a caller issuing thousands of increments pays one swap instead
        of serializing N full commits on the writer lock.  Each op is a
        dict (results returned in op order as ``{"applied", "value"}``;
        ``value`` is the post-op cell for increment/append):

        - ``{"op": "put", "key": k, "row": {...}}`` — unconditional Put
        - ``{"op": "check_put", "key": k, "col": c, "expected": v,
          "row": {...}}`` — Put iff the cell equals ``expected``
          (``None`` = absent), per :meth:`check_and_put`
        - ``{"op": "delete", "key": k}`` — row Delete (absent = no-op
          success, like HBase)
        - ``{"op": "check_delete", "key": k, "col": c, "expected": v}``
        - ``{"op": "increment", "key": k, "col": c, "delta": n}``
        - ``{"op": "append", "key": k, "col": c, "value": v}``

        Ops must target DISTINCT row keys (HBase ``batch()`` leaves
        same-row ordering unspecified; this surface refuses the
        ambiguity — sequence same-key ops across calls).  Atomicity is
        STRONGER than HBase batch: every check/read-modify-write
        evaluates against the one generation the attempt resolved, and
        the swap names it as its CAS base, so a concurrent commit
        re-runs the whole batch — checks included — against the
        winner's state; the whole batch becomes visible atomically.

        Cost: one span+Bloom-pruned candidate scan for the batch's
        current rows and the files holding them (the locate), one merge
        rewrite of the affected files (+ one fresh sorted run for
        outside-span/new keys), one flip.  Reference analogue: the
        ``Table.batch``/``checkAndMutate`` client surface the
        reference's puts ride (``InsertIntoHBaseTable.scala:80-97``)."""
        spec = self.registry.get(qualified_name)
        schema = spec.schema()
        names = [f.name for f in schema.fields]
        col_idx = {c: i for i, c in enumerate(names)}
        if not ops:
            return []
        seen: set = set()
        for o in ops:
            kind = o.get("op")
            if kind not in self._MUTATE_OPS:
                raise ValueError(
                    f"{qualified_name}: unknown mutation op {kind!r} "
                    f"(have {sorted(self._MUTATE_OPS)})"
                )
            key = o.get("key")
            if key is None:
                raise ValueError(
                    f"{qualified_name}: mutations need a non-NULL row key"
                )
            if key in seen:
                raise ValueError(
                    f"{qualified_name}: duplicate key {key!r} in one "
                    "mutate() batch — ops must be independent; sequence "
                    "same-key ops across calls"
                )
            seen.add(key)
            if kind in ("check_put", "check_delete", "increment", "append"):
                self._require_column(spec, o["col"])
            if kind in ("put", "check_put"):
                row = o.get("row") or {}
                unknown = set(row) - set(names)
                if unknown:
                    raise ValueError(
                        f"{qualified_name}: unknown Put columns "
                        f"{sorted(unknown)}"
                    )
                if ROW_KEY in row and row[ROW_KEY] != key:
                    raise ValueError(
                        "a batched Put may only mutate its own row "
                        f"(put key {row[ROW_KEY]!r} != op key {key!r})"
                    )
        from pyspark.sql import types as T

        keys = [o["key"] for o in ops]
        key_struct = T.StructType(
            [next(f for f in schema.fields if f.name == ROW_KEY)]
        )

        def attempt():
            import urllib.parse

            path = self.table_path(spec)
            stats: dict = {}
            files = self._candidate_files(
                spec, path, (min(keys), max(keys)), keys, stats
            )
            # each present key's current row and the data file holding
            # it: the one read serves the checks AND the locate
            current: dict = {}
            home: dict = {}
            if files:
                for r in (
                    self.spark.read.schema(schema)
                    .parquet(*[os.path.join(path, f) for f in files])
                    .filter(F.col(ROW_KEY).isin(keys))
                    .select("*", F.input_file_name().alias("__f"))
                    .collect()
                ):
                    k = r[col_idx[ROW_KEY]]
                    if k in current:
                        raise ValueError(
                            f"{qualified_name}: key {k!r} is not unique; "
                            "mutate() needs unique keys (versioned "
                            "tables: compact_versions first)"
                        )
                    current[k] = tuple(r)[:-1]
                    home[k] = os.path.basename(
                        urllib.parse.urlparse(r["__f"]).path
                    )

            results: list = [None] * len(ops)
            incoming_rows: list = []
            incoming_keys: list = []
            delete_keys: list = []
            touched_existing: list = []
            for i, o in enumerate(ops):
                kind, key = o["op"], o["key"]
                cur = current.get(key)
                present = key in current
                if kind in ("put", "check_put"):
                    if kind == "check_put":
                        cell = cur[col_idx[o["col"]]] if present else None
                        if cell != o.get("expected"):
                            results[i] = {"applied": False, "value": None}
                            continue
                    full = {**(o.get("row") or {}), ROW_KEY: key}
                    incoming_rows.append(
                        tuple(full.get(c) for c in names)
                    )
                    incoming_keys.append(key)
                    if present:
                        touched_existing.append(key)
                    results[i] = {"applied": True, "value": None}
                elif kind in ("delete", "check_delete"):
                    if kind == "check_delete":
                        cell = cur[col_idx[o["col"]]] if present else None
                        if cell != o.get("expected"):
                            results[i] = {"applied": False, "value": None}
                            continue
                    if present:
                        delete_keys.append(key)
                        touched_existing.append(key)
                    results[i] = {"applied": True, "value": None}
                else:
                    # increment/append: read-modify-write of one cell,
                    # full-row rewrite under the BATCH's generation CAS
                    # (the same whole-row atomicity a single increment
                    # gets — a concurrent commit re-runs the whole
                    # attempt, reads included)
                    cell = cur[col_idx[o["col"]]] if present else None
                    if kind == "increment":
                        new = (cell or 0) + o.get("delta", 1)
                    else:
                        v = o["value"]
                        new = v if cell is None else cell + v
                    base = dict(zip(names, cur)) if present else {}
                    base.pop(ROW_KEY, None)
                    base[o["col"]] = new
                    full = {**base, ROW_KEY: key}
                    incoming_rows.append(
                        tuple(full.get(c) for c in names)
                    )
                    incoming_keys.append(key)
                    if present:
                        touched_existing.append(key)
                    results[i] = {"applied": True, "value": new}

            if not incoming_rows and not delete_keys:
                return results, False, None
            incoming = self._local_frame(incoming_rows, schema)
            changed_keys = incoming_keys + delete_keys
            keys_df = self._local_frame(
                [(k,) for k in changed_keys], key_struct
            )
            affected: dict = {}
            for k in touched_existing:
                affected[home[k]] = affected.get(home[k], 0) + 1
            drop_df = (
                self._local_frame([(k,) for k in delete_keys], key_struct)
                if delete_keys
                else None
            )
            span = (
                (min(incoming_keys), max(incoming_keys))
                if incoming_keys
                else None
            )
            delta = self._upsert_rewrite(
                spec, incoming, (keys_df, changed_keys), affected, path,
                schema, batch_span=span, footer_stats=stats,
                n_changed=len(changed_keys),
                drop_keys=drop_df, new_run_known_empty=not incoming_keys,
            )
            return results, True, delta

        return self._commit(qualified_name, attempt)

    def _require_column(self, spec: TableSpec, col: str) -> None:
        names = [f.name for f in spec.schema().fields]
        if col not in names:
            raise ValueError(
                f"{spec.qualified_name}: unknown column {col!r} "
                f"(have {names})"
            )

    @staticmethod
    def _check_put_row(spec: TableSpec, check_key, row: dict) -> None:
        """Refuse a conditional mutation's Put before any read: unknown
        columns, a NULL checked key, or a Put naming another row."""
        qualified_name = spec.qualified_name
        unknown = set(row) - {f.name for f in spec.schema().fields}
        if unknown:
            raise ValueError(
                f"{qualified_name}: unknown Put columns {sorted(unknown)}"
            )
        if check_key is None:
            # HBase throws on an empty row key; a NULL key here would
            # bypass upsert's NULL-key guard and append an unreachable
            # row (NULL falls through both sides of every key-span split)
            raise ValueError(
                f"{qualified_name}: conditional mutations need a non-NULL "
                "row key"
            )
        if ROW_KEY in row and row[ROW_KEY] != check_key:
            raise ValueError(
                "checkAndPut may only mutate the checked row "
                f"(put key {row[ROW_KEY]!r} != checked key {check_key!r})"
            )

    def _point_row(
        self, spec: TableSpec, path: str, files: list[str], key
    ) -> tuple:
        """``(row, home)`` — the key's WHOLE current row in one resolved
        generation as a tuple of the schema columns, and the basename of
        the data file holding it (``None, None`` when absent; a NULL
        qualifier on a present row reads as None in its slot — "no
        cell" to a check, matching HBase).  ``home`` is the conditional
        mutation's whole locate: the one read serves the check AND the
        rewrite's affected file.  More than one physical row for the
        key is ambiguous for a conditional mutation (versioned tables
        need an explicit as-of read) and raises rather than guessing."""
        import urllib.parse

        if not files:
            return None, None
        rows = (
            self.spark.read.schema(spec.schema())
            .parquet(*[os.path.join(path, f) for f in files])
            .filter(F.col(ROW_KEY) == F.lit(key))
            .select("*", F.input_file_name().alias("__f"))
            .take(2)
        )
        if len(rows) > 1:
            raise ValueError(
                f"{spec.qualified_name}: {len(rows)}+ rows share key "
                f"{key!r}; conditional mutations need unique keys "
                "(versioned tables: compact_versions first or use the "
                "as-of read surface)"
            )
        if not rows:
            return None, None
        home = os.path.basename(urllib.parse.urlparse(rows[0]["__f"]).path)
        return tuple(rows[0])[:-1], home

    # -- DELETE / UPDATE (HBase Delete mutation / checked Put analogue) ---
    def _locate_affected_files(
        self, spec: TableSpec, selector, files: list | None = None
    ) -> dict[str, int]:
        """ONE predicate-pushdown scan locating which data files contain
        rows the DML touches — ``selector(cur)`` reduces the table to
        its matching rows (a filter for DELETE/UPDATE, a broadcast semi
        join on the incoming keys for MERGE); emits {file basename:
        n_matching_rows} — bounded by the file count, so the driver-side
        collect is O(files) like every footer-admin path.  ``files``
        restricts the scan to pre-pruned candidates (MERGE prunes by
        footer key-range intersection first, because a broadcast
        semi-join cannot prune the scan side the way a pushed predicate
        can).  This is what
        makes selective DML O(affected files) instead of a full-table
        rewrite: at 100 TB a DELETE confined to one region's key range
        rewrites that region's files and HARDLINKS the rest (the
        minor-compaction discipline applied to mutations).  Conditions
        must be deterministic (the locating scan and the rewrite each
        evaluate them — the standard SQL DML expectation).  A selector
        whose plan may shuffle (a join Spark may not broadcast) tags
        each scanned row with ``F.input_file_name()`` as ``__f`` BEFORE
        it joins, since the file name reads empty after an exchange;
        other selectors leave the name to be read after them, so a
        filter still pushes into the scan."""
        import urllib.parse

        if files is not None:
            if not files:
                return {}
            path = self.table_path(spec)
            cur = self.spark.read.schema(spec.schema()).parquet(
                *[os.path.join(path, f) for f in files]
            )
        else:
            cur = self.read(spec.qualified_name)
        selected = selector(cur)
        rows = (
            selected.groupBy(
                "__f" if "__f" in selected.columns
                else F.input_file_name().alias("__f")
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        return {
            os.path.basename(urllib.parse.urlparse(r["__f"]).path): r["n"]
            for r in rows
        }

    def _selective_rewrite(
        self,
        spec: TableSpec,
        affected: dict[str, int],
        transform,
        path: str | None = None,
        append=None,
    ) -> None:
        """Rewrite ONLY the ``affected`` files (their rows run through
        ``transform(df)``), carrying every untouched file into the new
        generation as a hardlink.  Sound for DML because both DELETE
        (filter) and UPDATE (same-key projection) can only SHRINK or
        preserve a file's key range: per-file sortedness is kept by the
        key-sorted rewrite of the affected subset, and the affected
        files' ranges stay disjoint from the carried files' ranges, so
        scans, min/max pruning, and region stats see the same invariants
        a full rewrite would produce.  ``append`` rows (any keys) are
        sound in the same way: when the rewrite CARRIES NOTHING (every
        file of the generation is affected or holds no rows,
        :meth:`_carries_nothing`) there is no carried range to stay
        disjoint from, so they fold into the rewrite's one exchange over
        ``len(affected)`` partitions and the table keeps its file
        count; otherwise they write a fresh key-sorted run beside it.
        Callers that located ``affected`` themselves pass the
        generation ``path`` they located against, so locate, rewrite,
        and the CAS base all name the SAME generation."""
        if path is None:
            path = self.table_path(spec)
        listing = self._data_files(path)
        schema = spec.schema()
        sub = self.spark.read.schema(schema).parquet(
            *[os.path.join(path, f) for f in affected]
        )
        out = self._conform(schema, transform(sub))
        if append is not None and self._carries_nothing(
            path, listing, affected
        ):
            out = out.unionByName(self._conform(schema, append))
            append = None
        if spec.split_keys:
            # keep every rewritten file inside ONE declared region — a
            # joint sampled repartition of files from non-adjacent
            # regions would emit a file whose min/max span covers
            # untouched regions' keyspace, poisoning span pruning.
            # Empty regions write no files, so a small rewrite still
            # produces a compact run.
            out = self._region_layout(spec, out)
        else:
            out = out.repartitionByRange(
                max(len(affected), 1), ROW_KEY
            ).sortWithinPartitions(ROW_KEY)
        outs = [out]
        if append is not None:
            # ``append`` rides the SAME staged generation as a fresh
            # key-sorted run (insert()'s layout), so a caller that must
            # drop rows AND add rows (incremental index maintenance)
            # pays one swap instead of a swap followed by an append
            outs.append(
                self._region_layout(spec, self._conform(schema, append))
            )
        self._swap_write_with_carry(
            spec, outs, path, set(affected), listing=listing
        )

    def _carries_nothing(
        self, path: str, listing: list, affected, stats: dict | None = None
    ) -> bool:
        """Whether a rewrite of ``affected`` leaves no ROW of generation
        ``path`` to carry: every other file of ``listing`` (the listing
        the carry uses) holds zero rows, like a fresh table's schema
        anchor, which the swap scrubs anyway (:meth:`_scrub_empty_parts`).
        Row counts come from ``stats``, else the span manifest, else
        the file's footer; the check stops at the first file with
        rows."""
        manifest = None
        for fname in listing:
            if fname in affected:
                continue
            rec = (stats or {}).get(fname)
            if rec is None:
                if manifest is None:
                    manifest = self._load_span_stats(path)
                rec = manifest.get(fname) or self._footer_key_stats(
                    os.path.join(path, fname)
                )
            if rec[2]:
                return False
        return True

    def _swap_write_with_carry(
        self, spec: TableSpec, out, src_path: str,
        rewritten: set, validate=None, listing: list | None = None,
    ) -> None:
        """Write ``out`` (one DataFrame, or a list written in order —
        first overwrite, rest append) into a new generation and carry
        every data file of ``src_path`` NOT in ``rewritten`` over as a
        hardlink, then flip the generation pointer (``validate`` runs
        between write and flip).  The shared tail of every selective
        rewrite — DELETE/UPDATE (one frame), MERGE (merged subset +
        new-key run), minor compaction.  ``src_path`` is the generation
        this rewrite READ, so it is also the CAS base: a concurrent
        writer committing between the caller's locate and this flip
        makes the flip fail loudly instead of silently dropping that
        writer's files from the carry.  ``listing`` is ``src_path``'s
        data files when the caller already listed them to shape
        ``out``."""
        outs = [out] if isinstance(out, DataFrame) else list(out)
        base = os.path.basename(src_path.rstrip("/"))
        if listing is None:
            listing = self._data_files(src_path)
        carried = [f for f in listing if f not in rewritten]
        def build(staging: str) -> None:
            for i, frame in enumerate(outs):
                self._writer(frame, spec).mode(
                    "append" if i else "overwrite"
                ).parquet(staging)
            for f in os.listdir(staging):
                if not f.endswith(".parquet"):
                    os.remove(os.path.join(staging, f))
            for fname in carried:
                self._link_or_copy(
                    os.path.join(src_path, fname),
                    os.path.join(staging, fname),
                )

        def base_listing_unchanged() -> None:
            # a concurrent APPEND links files into the live generation
            # under the flip lock; if one landed after the carry listing
            # above, flipping would silently drop it — fail instead (the
            # DML retries and carries it)
            now = self._data_files(src_path)
            if now != listing:
                raise ConcurrentWriteConflictError(
                    f"{spec.qualified_name}: files appended to generation "
                    f"{base!r} during the rewrite"
                )

        self._swap_table_dir(
            spec,
            build,
            validate=validate,
            expected_base=base,
            under_lock_check=base_listing_unchanged,
            span_reuse_path=src_path,
        )

    def _commit(self, qualified_name: str, attempt, attempts: int = 8):
        """Stage 3, the commit tail of every write that changes a keyed
        table's rows (the DML entry points, :meth:`insert`,
        :meth:`truncate_table`, :meth:`restore_snapshot` and
        :meth:`apply_changes`): run ``attempt`` — one complete write
        that resolves the table's current generation itself — under
        :meth:`_retry_write_conflict`, and own the whole covered-index
        decision around it.  ``attempt`` returns ``(result, mutated,
        delta)``; ``delta`` is the change's index delta for
        :meth:`_maintain_indexes_incremental` (``None`` = full rebuild).

        Every registered index is marked stale BEFORE the attempt, so a
        raise anywhere after the flip leaves it loudly stale (so does a
        raise before the flip: the tail cannot tell the two apart, and
        the next write's rebuild is the safe answer).  An attempt that
        reports no mutation clears the markers it set; a mutation takes
        the delta route only when every index was fresh at entry (a
        stale index missed an earlier change that no delta repairs),
        otherwise the full rebuild.  Maintenance clears each index's
        marker when it finishes, and runs OUTSIDE the retry:
        the main-table swap is committed at that point, and replaying
        the attempt because the INDEX hit a conflict would re-apply the
        mutation on top of its own committed result (a non-idempotent
        ``c + 1`` UPDATE would double-apply; a DELETE would report 0
        rows).  Returns ``result``."""
        indexes = self.registered_indexes(qualified_name)
        fresh = [iq for iq in indexes if not self.index_is_stale(iq)]
        for iq in fresh:
            self._mark_index_stale(iq, True)
        result, mutated, delta = self._retry_write_conflict(attempt, attempts)
        if not mutated:
            for iq in fresh:
                self._mark_index_stale(iq, False)
        elif indexes:
            self._maintain_indexes(
                qualified_name, delta if len(fresh) == len(indexes) else None
            )
        return result

    @staticmethod
    def _index_delta_fits(n: int, table_rows: int) -> bool:
        """The one delta-route threshold: a write changing ``n`` keys of
        a table that held ``table_rows`` rows before its swap maintains
        the covered indexes by delta when ``n·4 < table_rows``; a
        larger change rebuilds them (the delta's drop and append then
        cost about as much as the rebuild's one sorted rewrite)."""
        return 0 < n * 4 < table_rows

    def _selective_commit(
        self, spec: TableSpec, span, keys, selector, transform
    ) -> int:
        """Stage 2, the selective commit behind :meth:`delete_where`,
        :meth:`delete_keys`, :meth:`delete_cells` and
        :meth:`update_where`: per attempt, resolve ONE generation, take
        its :meth:`_candidate_files` for ``span``/``keys``, locate the
        files holding ``selector`` rows, and rewrite only those through
        ``transform`` while every other file carries over — candidate
        pruning, locate, rewrite and CAS base all name the same
        generation, so a concurrent commit fails the flip loudly and
        the whole attempt re-runs.  A statement matching nothing is
        free (no rewrite, no swap).  Committed through :meth:`_commit`;
        returns the locate scan's matched-row count."""

        def attempt() -> tuple:
            path = self.table_path(spec)
            files = self._candidate_files(spec, path, span, keys)
            affected = self._locate_affected_files(
                spec, selector, files=files
            )
            if not affected:
                return 0, False, None
            n = sum(affected.values())
            delta = self._capture_changed_keys(
                spec, affected, selector, n, path
            )
            self._selective_rewrite(spec, affected, transform, path=path)
            return n, True, delta

        return self._commit(spec.qualified_name, attempt)

    def _pin_batch(
        self, batch: DataFrame, key: str, flags=(), stats: bool = True
    ) -> _BatchPin:
        """Stage 0, the batch pin: evaluate ``batch`` exactly once.  One
        bounded ``limit(_BLOOM_MERGE_PROBE_MAX + 1).toArrow()`` job
        decides the route.  A batch under the cap stays on the driver
        and re-enters Spark as an Arrow-built local relation, so every
        later use — locate, merge, index maintenance — runs no job to
        read it, and its statistics (row count, NULL keys, key span,
        distinct keys, and the True-row count of each boolean ``flags``
        column) are computed from the Arrow table.  A larger batch (or
        one whose schema does not round-trip through Arrow) is pinned
        by an eager ``localCheckpoint`` plus one statistics ``agg``
        (skipped when ``stats`` is false) and carries no keys."""
        cap = self._BLOOM_MERGE_PROBE_MAX
        if _arrow_pinnable(batch.schema):
            table = batch.limit(cap + 1).toArrow()
            if table.num_rows <= cap:
                col = table.column(key)
                keys = [k for k in col.unique().to_pylist() if k is not None]
                return _BatchPin(
                    self.spark.createDataFrame(table, batch.schema),
                    table, table.num_rows, col.null_count, *_py_span(keys),
                    keys,
                    {f: table.column(f).to_pylist().count(True) for f in flags},
                )
        frame = batch.localCheckpoint(eager=True)
        if not stats:
            return _BatchPin(frame, None, None, None, None, None, None, {})
        k = F.col(f"`{key}`")
        b = frame.agg(
            F.min(k).alias("lo"),
            F.max(k).alias("hi"),
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(k.isNull(), 1)).alias("n_null"),
            *[F.count(F.when(F.col(f), 1)).alias(f) for f in flags],
        ).first()
        return _BatchPin(
            frame, None, b["n"], b["n_null"], b["lo"], b["hi"], None,
            {f: b[f] for f in flags},
        )

    def _local_frame(self, rows: list, schema) -> DataFrame:
        """Driver-held Python ``rows`` as an Arrow-built local relation
        (no Python-worker job reads it), converted per column exactly as
        ``createDataFrame`` converts them (``DataType.toInternal``)."""
        if not _arrow_pinnable(schema):
            return self.spark.createDataFrame(rows, schema)
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_type

        return self.spark.createDataFrame(
            pa.table({
                f.name: pa.array(
                    [f.dataType.toInternal(r[i]) for r in rows],
                    type=to_arrow_type(f.dataType),
                )
                for i, f in enumerate(schema.fields)
            }),
            schema,
        )

    def delete_where(self, qualified_name: str, condition: str) -> int:
        """DELETE FROM the keyed table: rows matching the SQL
        ``condition`` are removed by a SELECTIVE key-sorted rewrite —
        one pushdown scan locates the files containing matches, only
        those are rewritten, every other file rides into the new
        generation as a hardlink (the batch analogue of HBase Delete
        mutations; tombstones + compaction collapse into the one
        rewrite, and the rewrite I/O is O(affected files), not
        O(table)).  A key-constrained condition locates only over the
        files its provable row-key interval and point set admit
        (:meth:`_rowkey_interval`, :meth:`_rowkey_points`); an
        unconstrained one over the whole generation.  A DELETE
        matching nothing is free: no rewrite, no generation swap.
        Returns the number of rows deleted (the locating scan's exact
        per-file match counts).  Registered covered indexes are
        maintained in the same call — see :meth:`upsert`."""
        spec = self.registry.get(qualified_name)
        # SQL DELETE law: only rows where the predicate is TRUE go; a
        # NULL predicate must KEEP the row (NOT(NULL) is NULL and would
        # silently drop it)
        hit = F.coalesce(F.expr(condition), F.lit(False))
        return self._selective_commit(
            spec,
            self._rowkey_interval(condition),
            self._rowkey_points(condition),
            lambda df: df.filter(hit),
            lambda df: df.filter(~hit),
        )

    def delete_keys(self, qualified_name: str, keys: DataFrame) -> int:
        """DELETE by key batch — the HBase ``table.delete(List<Delete>)``
        client surface (and the replay path for changefeed deletes,
        :meth:`apply_changes`).  ``keys`` is a DataFrame carrying a
        ``row_key`` column (or exactly one column, taken as the key).

        Same selective-rewrite cost law as :meth:`delete_where`: the
        batch is pinned once and its statistics yield its span
        (:meth:`_pin_batch`), so the locate prunes candidate
        files by footer key range and Bloom sidecars (exact-point
        probes when the batch is small enough to hoist, the
        :meth:`upsert` gating) before one broadcast-semi locate scan;
        only files holding matched keys rewrite (broadcast anti join),
        everything else hardlinks.  A batch matching nothing is free.
        NULL keys in the batch delete NULL-keyed rows (null-safe joins;
        span pruning is skipped for such batches — parquet stats cannot
        see NULL keys).  The batch rides BROADCAST joins, so it must be
        batch-sized, not corpus-sized — the same contract as the MERGE
        source.  Returns the number of rows deleted."""
        spec = self.registry.get(qualified_name)
        if ROW_KEY not in keys.columns:
            if len(keys.columns) != 1:
                raise ValueError(
                    f"delete_keys expects a '{ROW_KEY}' column (or a "
                    f"single-column frame), got {keys.columns}"
                )
            keys = keys.select(F.col(f"`{keys.columns[0]}`").alias(ROW_KEY))
        key = F.col(f"`{ROW_KEY}`")
        # try_cast: an uncastable key must reach the loud refusal below
        # as a detectable NULL, not explode as an ANSI cast error
        # mid-job (and under non-ANSI sessions a plain cast would
        # silently NULL — the exact trap the check refuses)
        dk = key.try_cast(spec.schema()[ROW_KEY].dataType)
        b = self._pin_batch(
            keys.select(
                dk.alias("__dk"),
                (dk.isNull() & key.isNotNull()).alias("__uncastable"),
            ),
            "__dk",
            flags=("__uncastable",),
        )
        if b.counts["__uncastable"]:
            # a key the cast NULLED would silently retarget the delete at
            # NULL-keyed rows — the stringly-typed trap again; refuse
            raise ValueError(
                f"{qualified_name}: {b.counts['__uncastable']} delete "
                f"key(s) are not castable to the key type {spec.key_type!r}"
            )
        if not b.n:
            return 0
        kdf = F.broadcast(b.frame.select("__dk"))
        match = F.col(ROW_KEY).eqNullSafe(F.col("__dk"))
        return self._selective_commit(
            spec, b.span, b.keys,
            lambda df: df.join(kdf, match, "left_semi"),
            lambda df: df.join(kdf, match, "left_anti"),
        )

    def delete_cells(self, qualified_name: str, rows: DataFrame) -> int:
        """DELETE exact CELLS — full-row-identity deletes, the HBase
        ``Delete.addColumn(cf, q, ts)`` (delete ONE version cell)
        analogue and the replay path for CELL-granularity changefeed
        deletes (:meth:`apply_changes` with ``cells=True``): on a
        versioned table a delete row names one expired cell, and the
        key's OTHER cells must survive — which is exactly what
        :meth:`delete_keys` cannot express.

        ``rows`` must carry the table's full schema (same column names
        and types — the frame a changefeed ``delete`` row set already
        has).  Matching is null-safe on EVERY column, and removal is
        MULTISET-exact (``exceptAll``): a batch listing a duplicated
        cell once removes one physical copy, mirroring the per-row net
        count :meth:`read_changes` emits as multiplicity — so replica
        convergence holds even for degenerate duplicate cells.

        Same selective-rewrite cost law as :meth:`delete_keys`: the
        batch is pinned once, its ROW-KEY span prunes candidate files
        by footer range + Bloom sidecars, one broadcast-semi locate
        scan finds the files holding matches, only those rewrite,
        everything else hardlinks.  The batch rides broadcast joins —
        batch-sized, not corpus-sized (the MERGE-source contract).
        Returns the locate scan's matched-row count (equal to the rows
        removed except when a file holds MORE identical copies of a
        cell than the batch lists — exceptAll then keeps the surplus
        copies and the count overstates by that surplus)."""
        from functools import reduce as _reduce

        spec = self.registry.get(qualified_name)
        schema = spec.schema()
        names = [f.name for f in schema.fields]
        got = {f.name: f.dataType for f in rows.schema.fields}
        want = {f.name: f.dataType for f in schema.fields}
        if got != want:
            # exact-identity deletes on a loosely-typed batch would
            # silently match nothing (or the wrong rows after an
            # implicit cast) — refuse loudly, the delete_keys trap law
            raise ValueError(
                f"{qualified_name}: delete_cells needs the table's exact "
                f"schema; expected {want}, got {got}"
            )
        b = self._pin_batch(
            rows.select(*[F.col(f"`{n}`") for n in names]), ROW_KEY
        )
        if not b.n:
            return 0
        aligned = b.frame
        probe = F.broadcast(aligned.select(
            *[F.col(f"`{n}`").alias(f"__c{i}") for i, n in enumerate(names)]
        ))
        cond = _reduce(
            lambda a, c: a & c,
            [
                F.col(f"`{n}`").eqNullSafe(F.col(f"__c{i}"))
                for i, n in enumerate(names)
            ],
        )
        return self._selective_commit(
            spec, b.span, b.keys,
            lambda df: df.join(probe, cond, "left_semi"),
            lambda df: df.exceptAll(aligned),
        )

    def update_where(
        self,
        qualified_name: str,
        assignments: dict[str, str],
        condition: str,
    ) -> int:
        """UPDATE the keyed table: SQL-expression ``assignments``
        applied to rows matching ``condition`` by the same SELECTIVE
        rewrite as :meth:`delete_where` — only files containing matches
        are rewritten (updated rows keep their keys, so file key ranges
        are preserved exactly), the rest hardlink into the new
        generation; an UPDATE matching nothing is free.  Assignment
        keys must be existing non-key columns (the row key is
        immutable — HBase semantics: changing the key is a delete +
        put, i.e. :meth:`delete_where` + :meth:`insert`).  Returns the
        number of rows updated.  Registered covered indexes are
        maintained in the same call — see :meth:`upsert`."""
        spec = self.registry.get(qualified_name)
        cols = [f.name for f in spec.schema().fields]
        for col in assignments:
            if col == ROW_KEY:
                raise ValueError("row_key is immutable; DELETE + INSERT instead")
            if col not in cols:
                raise ValueError(f"unknown column {col!r}")
        cond = F.coalesce(F.expr(condition), F.lit(False))

        def apply_assignments(df: DataFrame) -> DataFrame:
            return df.select(
                *[
                    (
                        F.when(cond, F.expr(assignments[c])).otherwise(F.col(f"`{c}`"))
                        if c in assignments
                        else F.col(f"`{c}`")
                    ).alias(c)
                    for c in cols
                ]
            )

        return self._selective_commit(
            spec,
            self._rowkey_interval(condition),
            self._rowkey_points(condition),
            lambda df: df.filter(cond),
            apply_assignments,
        )

    def _capture_changed_keys(
        self, spec: TableSpec, affected: dict, selector, n: int, path: str
    ) -> tuple | None:
        """Pin the source keys a DELETE/UPDATE touches BEFORE the swap
        (afterwards the deleted rows are gone) — but only when an index
        needs them and the change fits :meth:`_index_delta_fits`.
        Keys-only and batch-bounded by that threshold; returns the
        pin's ``(frame, keys)``, the write's index delta."""
        if not self.registered_indexes(spec.qualified_name):
            return None
        if not self._index_delta_fits(n, self._footer_row_count(path)):
            return None  # the full rebuild will run anyway
        sub = self.spark.read.schema(spec.schema()).parquet(
            *[os.path.join(path, f) for f in affected]
        )
        pin = self._pin_batch(
            selector(sub).select(ROW_KEY), ROW_KEY, stats=False
        )
        return pin.frame, pin.keys

    # -- compaction (A10 bulk-rewrite analogue) ---------------------------
    def compact(
        self,
        qualified_name: str,
        n_regions: int | None = None,
        target_region_bytes: int | None = None,
    ) -> None:
        """Rewrite the table into ``n_regions`` key-sorted partitions —
        the major-compaction analogue (merge many small "HFiles" into few
        sorted ones, restoring scan locality after many inserts).  Runs
        through the staged-directory atomic swap: the old layout serves
        reads until the new one is fully written.

        ``target_region_bytes`` is the HBase split-policy analogue
        (``ConstantSizeRegionSplitPolicy`` / ``hbase.hregion.max.
        filesize``, the contract behind the reference's static per-table
        "split" keys — ``HBaseClientImpl.scala:262,273``): the region
        count is derived from the CURRENT data size instead of the
        table's static fan-out, so a table that grew 100× since
        creation re-splits to 100× the regions on its next compaction
        rather than funneling into the original handful.  One O(files)
        driver-side size stat; mutually exclusive with ``n_regions``."""
        if n_regions is not None and target_region_bytes is not None:
            raise ValueError(
                "pass n_regions or target_region_bytes, not both"
            )
        if target_region_bytes is not None and target_region_bytes <= 0:
            raise ValueError(
                f"target_region_bytes must be positive, got "
                f"{target_region_bytes}"
            )
        spec = self.registry.get(qualified_name)

        def attempt() -> None:
            # CAS base + base LISTING resolved before the read: a
            # concurrent rewrite flips the pointer (CAS catches it); a
            # concurrent APPEND adds files without flipping, so the
            # listing check is what keeps its rows out of the void —
            # either way the flip fails loudly and this re-runs against
            # the winner's state
            src = self.table_path(spec)
            base = os.path.basename(src)
            listing = self._data_files(src)
            n = n_regions
            if target_region_bytes is not None:
                total = sum(
                    os.path.getsize(os.path.join(src, f))
                    for f in listing
                )
                n = max(1, -(-total // target_region_bytes))  # ceil

            def no_appends() -> None:
                if self._data_files(src) != listing:
                    raise ConcurrentWriteConflictError(
                        f"{spec.qualified_name}: files appended to "
                        f"generation {base!r} during the compaction"
                    )

            self._sorted_rewrite(
                spec, self.read(qualified_name), n_regions=n,
                expected_base=base, under_lock_check=no_appends,
            )

        self._retry_write_conflict(attempt)

    # -- minor compaction (HBase minor compaction: merge small HFiles) ----
    def compact_minor(
        self,
        qualified_name: str,
        small_file_bytes: int = 32 * 1024 * 1024,
        min_files: int = 2,
    ) -> int:
        """MINOR compaction — the HBase small-HFile merge: only files
        under ``small_file_bytes`` are read and merged into one
        key-sorted run; every large file is carried into the new table
        directory as a HARDLINK (zero-copy).  This is the 100 TB
        compaction policy: after streaming/batch ingest leaves a tail
        of small files, cleanup I/O is O(small files), never a rewrite
        of the table — :meth:`compact` (major) remains the full
        re-sort.  Returns the number of files merged (0 = no-op when
        fewer than ``min_files`` qualify).

        Correctness: the keyed layout is a collection of key-sorted
        runs with per-file min/max stats; merging a subset of runs into
        one preserves exactly that invariant, so scans, pushdown, and
        region pruning are unaffected.  The swap rides the same
        staged-directory atomic-commit protocol as every DML rewrite.
        """
        spec = self.registry.get(qualified_name)

        def attempt() -> int:
            # one generation resolution per attempt; the carry swap's
            # own listing guard catches concurrent appends, and a lost
            # CAS re-selects the small files against the winner's state
            path = self.table_path(spec)
            small = []
            for fname in self._data_files(path):
                full = os.path.join(path, fname)
                if os.path.getsize(full) < small_file_bytes:
                    small.append(fname)
            if len(small) < min_files:
                return 0
            folded = self.spark.read.schema(spec.schema()).parquet(
                *[os.path.join(path, f) for f in small]
            )
            if spec.split_keys:
                # pre-split table: fold to one file PER DECLARED REGION
                # (empty regions write nothing) instead of one global
                # file that would straddle the declared boundaries
                merged = self._region_layout(spec, folded)
            else:
                merged = folded.repartitionByRange(
                    1, ROW_KEY
                ).sortWithinPartitions(ROW_KEY)
            # untouched large files carry over as hardlinks — the one
            # shared staged-write-plus-carry tail every selective path
            # rides
            self._swap_write_with_carry(spec, merged, path, set(small))
            return len(small)

        return self._retry_write_conflict(attempt)

    # -- region stats (HBase list_regions analogue, footer-only) ----------
    def list_regions(self, qualified_name: str) -> DataFrame:
        """DECLARED-region admin view — the HBase shell ``list_regions``
        output for a pre-split table: one row per declared region with
        its boundary keys and current physical footprint
        ``(region, start_key, end_key, n_files, n_rows, bytes)``,
        including EMPTY regions (start/end from the declaration; HBase
        lists cold regions too — that is how operators find imbalance).

        Driver-side metadata only: span-manifest stats route each
        region-confined file to its region (live footer read only for
        manifest-missed files), one ``getsize`` per file — the same
        accounting the ``REGION_MAX_BYTES`` auto-split policy uses.
        Undeclared tables raise (their per-file view is
        :meth:`region_stats`)."""
        spec = self.registry.get(qualified_name)
        if not spec.split_keys:
            raise ValueError(
                f"{qualified_name}: list_regions requires declared split "
                "keys; use region_stats() for sampled layouts"
            )
        bounds = self._declared_split_bounds(spec)
        n_regions = len(bounds) + 1
        files: dict[int, list] = {r: [] for r in range(n_regions)}
        with self._generation_lease(qualified_name) as (path, full_paths):
            cached = self._load_span_stats(path)
            for full in full_paths:
                fname = os.path.basename(full)
                rec = cached.get(fname)
                if rec is not None and rec[3]:
                    lo, rows = rec[0], rec[2]
                else:
                    lo, _hi, rows = self._file_key_range(full)
                if not rows or lo is None:
                    continue
                region = sum(1 for b in bounds if lo >= b)
                files[region].append((rows, os.path.getsize(full)))
        edges = [None] + [str(b) for b in bounds] + [None]
        out = [
            (
                r + 1,
                edges[r],
                edges[r + 1],
                len(files[r]),
                sum(n for n, _sz in files[r]),
                sum(sz for _n, sz in files[r]),
            )
            for r in range(n_regions)
        ]
        return self.spark.createDataFrame(
            out,
            "region int, start_key string, end_key string, "
            "n_files int, n_rows bigint, bytes bigint",
        )

    def region_stats(self, qualified_name: str) -> DataFrame:
        """Per-region key ranges and row counts — the ``list_regions``
        admin surface — computed from PARQUET FOOTER statistics
        (row-group min/max + counts): O(files) driver-side metadata
        reads, the same stats the scan planner uses for range pruning.
        Files whose key statistics may be writer-TRUNCATED (long binary
        keys) fall back to an exact single-column scan of that file, so
        the reported ranges are always exact.  Regions are numbered by
        ascending min key (the sorted-layout invariant after
        compaction).

        Emits ``(region, min_key, max_key, n_rows)``.

        Runs under a :meth:`_generation_lease` so the footer walk (and
        any exact-read fallback) cannot race a concurrent writer's
        sweep — the stats describe one consistent generation.
        """
        stats = []
        with self._generation_lease(qualified_name) as (path, files):
            cached = self._load_span_stats(path)
            for full in files:
                rec = cached.get(os.path.basename(full))
                if rec is not None and rec[3]:
                    # manifest entry, trustworthy min/max: no footer open
                    lo, hi, rows = rec[0], rec[1], rec[2]
                else:
                    # shared footer-range walk (byte-aware truncation
                    # guard + exact single-file fallback) —
                    # see _file_key_range
                    lo, hi, rows = self._file_key_range(full)
                if rows == 0:
                    continue
                stats.append((lo, hi, rows))
        # sort on the NATIVE stat values (numeric keys order
        # numerically), then render as strings for the stable admin
        # schema
        stats.sort()
        stats = [(str(lo), str(hi), rows) for lo, hi, rows in stats]
        out = [(i + 1, lo, hi, n) for i, (lo, hi, n) in enumerate(stats)]
        return self.spark.createDataFrame(
            out, "region int, min_key string, max_key string, n_rows bigint"
        )

    # -- region lifecycle (HBase admin.split / admin.mergeRegions) --------
    def split_region(self, qualified_name: str, split_key) -> int:
        """Add ``split_key`` as a declared region boundary — the HBase
        ``admin.split(table, splitPoint)`` manual-split surface (the
        runtime continuation of the CREATE-time pre-split the reference
        declares via the ``"split"`` property,
        ``HBaseClientImpl.scala:331-364``).

        Cost model is HBase's: a split is a METADATA operation plus a
        daughter rewrite of only the ONE region that straddles the new
        boundary.  Because every write keeps files region-confined, the
        straddling files are found from span-manifest stats (no footer
        walk on a manifest-ed generation) and only they are rewritten;
        every other file — the entire rest of the table — carries into
        the new generation as a hardlink.  At 100 TB, splitting a hot
        region touches that region's bytes only.

        Declared-split tables only: an undeclared table has sampled
        (per-batch) boundaries, so "splitting" one is not meaningful —
        use :meth:`compact` with ``n_regions``/``target_region_bytes``
        for sampled re-fanout.  Returns the number of files rewritten
        (0 = pure-metadata split of an empty/cold boundary).

        Concurrency: the new declaration registers first, so every
        write that PLANS after this call routes by the new bounds; the
        daughter rewrite then rides the standard locate → selective
        rewrite → CAS retry loop.  A writer already in flight with the
        old bounds can commit one straddling run — harmless (scans and
        pruning use per-file stats, never region assumptions) and
        re-confined by its next rewrite or compaction, the same eventual
        story as HBase splitting under load.  If the daughter rewrite
        itself FAILS (retry exhaustion included), the declaration rolls
        back before the error propagates: the table must never be left
        silently declaring a boundary its files straddle.  Rollback is
        always confinement-safe — removing a boundary only COARSENS
        regions (the :meth:`merge_regions` zero-I/O law), so files a
        concurrent writer already routed by the new bounds stay
        confined.
        """
        return self.split_regions(qualified_name, [split_key])

    def split_regions(self, qualified_name: str, split_keys: list) -> int:
        """BATCH pre-split: declare N new region boundaries in one
        catalog update and re-confine every straddling file in ONE
        rewrite + ONE generation flip — the N-way backfill of an
        existing large table that :meth:`split_region` would otherwise
        pay as N sequential commits (N locates, N swaps, N CAS
        windows).  Same cost law per file: only files straddling at
        least one NEW boundary rewrite; the rest carry.  Same rollback
        law: a failed rewrite removes every boundary this call added
        before the error propagates.  Returns the number of files
        rewritten."""
        spec = self.registry.get(qualified_name)
        if not spec.split_keys:
            raise ValueError(
                f"{qualified_name}: split_region requires declared split "
                "keys; use compact(n_regions=...) or "
                "compact(target_region_bytes=...) to re-fan-out a "
                "sampled-layout table"
            )
        if not split_keys:
            return 0
        bounds = self._declared_split_bounds(spec)
        newvs = self._parse_split_values(spec, list(split_keys))
        dup = [
            raw for raw, v in zip(split_keys, newvs) if v in bounds
        ]
        if dup:
            raise ValueError(
                f"{qualified_name}: {dup[0]!r} is already a declared "
                "region boundary"
            )
        if len(set(newvs)) != len(newvs):
            raise ValueError(
                f"{qualified_name}: duplicate split keys in one batch: "
                f"{[str(s) for s in split_keys]}"
            )
        raw_by_val = dict(zip(bounds, [str(s) for s in spec.split_keys]))
        for raw, v in zip(split_keys, newvs):
            raw_by_val[v] = str(raw)
        spec.split_keys = [raw_by_val[v] for v in sorted(raw_by_val)]
        self.registry.register(spec)
        new_sorted = sorted(newvs)

        def attempt() -> int:
            path = self.table_path(spec)
            cached = self._load_span_stats(path)
            straddlers = []
            for fname in self._data_files(path):
                rec = cached.get(fname)
                if rec is not None and rec[3]:
                    lo, hi, rows = rec[0], rec[1], rec[2]
                else:
                    lo, hi, rows = self._file_key_range(
                        os.path.join(path, fname)
                    )
                # a file straddles iff it holds keys on BOTH sides of
                # ANY new boundary: region law [lo_bound, hi_bound)
                # puts key == v in the upper daughter
                if rows and lo is not None and hi is not None and any(
                    lo < v <= hi for v in new_sorted
                ):
                    straddlers.append(fname)
            if not straddlers:
                return 0
            sub = self.spark.read.schema(spec.schema()).parquet(
                *[os.path.join(path, f) for f in straddlers]
            )
            out = self._region_layout(spec, sub)
            self._swap_write_with_carry(spec, out, path, set(straddlers))
            return len(straddlers)

        try:
            return self._retry_write_conflict(attempt)
        except BaseException:
            # roll the declaration back (see split_region docstring: a
            # failed daughter rewrite must not leave silently-straddled
            # declared boundaries; coarsening is always confinement-safe)
            try:
                cur = self.registry.get(qualified_name)
                vals = self._declared_split_bounds(cur)
                gone = set(newvs)
                cur.split_keys = [
                    raw
                    for raw, v in zip(
                        [str(s) for s in cur.split_keys], vals
                    )
                    if v not in gone
                ]
                self.registry.register(cur)
            except Exception:
                logger.warning(
                    "%s: could not roll back boundaries %r after a failed "
                    "split rewrite; the declared boundaries may be "
                    "straddled until the next rewrite",
                    qualified_name, [str(s) for s in split_keys],
                )
            raise

    def merge_regions(self, qualified_name: str, boundary) -> None:
        """Remove the declared region boundary ``boundary`` — the HBase
        ``admin.mergeRegions(daughterA, daughterB)`` surface, addressed
        by the boundary the two adjacent regions share.

        ZERO I/O by construction: region-confined files of the two
        daughters all lie inside the merged region's keyspace, so the
        merge is purely a catalog update — strictly cheaper than HBase,
        whose merge rewrites region metadata AND eventually compacts
        the daughters' HFiles together.  Subsequent writes route by the
        merged bounds; existing files never move.  Removing the LAST
        boundary returns the table to the undeclared (sampled
        ``repartitionByRange``) layout.
        """
        spec = self.registry.get(qualified_name)
        if not spec.split_keys:
            raise ValueError(
                f"{qualified_name}: no declared split keys to merge"
            )
        bounds = self._declared_split_bounds(spec)
        v = self._parse_split_values(spec, [boundary])[0]
        if v not in bounds:
            raise ValueError(
                f"{qualified_name}: {boundary!r} is not a declared region "
                f"boundary (declared: {[str(s) for s in spec.split_keys]})"
            )
        spec.split_keys = [
            raw for raw, val in zip(
                [str(s) for s in spec.split_keys], bounds
            ) if val != v
        ]
        self.registry.register(spec)

    # -- snapshots (HBase snapshot/clone_snapshot/restore_snapshot) -------
    def _snapshot_dir(self, snapshot_name: str) -> str:
        return os.path.join(self.warehouse_dir, ".snapshots", snapshot_name)

    def snapshot(self, qualified_name: str, snapshot_name: str) -> None:
        """Take a named snapshot of the table — the HBase ``snapshot``
        admin operation: a ZERO-COPY capture (hardlinks to the immutable
        parquet files; falls back to copies across filesystems) plus the
        declared spec, under ``<warehouse>/.snapshots/<name>/``.

        Zero-copy is sound because the store never mutates a data file
        in place: every write path either appends NEW files or swaps in
        a NEW directory (the staged-commit protocol), exactly like HBase
        snapshots hardlink immutable HFiles.  Cost at 100 TB: O(files)
        metadata operations, no data movement.

        The capture rides a :meth:`_generation_lease` (the scan-lease
        primitive): the generation and its file list are pinned at
        entry, so concurrent DML/compaction churn can neither sweep the
        source mid-link (HBase's snapshot-vs-compaction file-reference
        protocol) nor leak a half-new half-old file set into the
        snapshot — the capture is point-in-time consistent by
        construction.
        """
        spec = self.registry.get(qualified_name)
        if snapshot_name == "previous":
            # read_changes(versus="previous") is the transient-base
            # sentinel — a snapshot under that name would be unreachable
            raise ValueError(
                "snapshot name 'previous' is reserved (the read_changes "
                "transient-base sentinel); pick another name"
            )
        sdir = self._snapshot_dir(snapshot_name)
        if os.path.exists(sdir):
            raise TableAlreadyExistsError(f"snapshot exists: {snapshot_name}")
        os.makedirs(sdir)
        try:
            with self._generation_lease(qualified_name) as (src, files):
                for full in files:
                    self._link_or_copy(
                        full, os.path.join(sdir, os.path.basename(full))
                    )
                # carry the span manifest too (same files, same stats)
                # so restore/clone stay zero-footer-read; uncovered
                # files read their footer once, here, at snapshot time
                try:
                    self._write_span_manifest(
                        sdir, known=self._load_span_stats(src)
                    )
                except Exception:
                    pass  # cache only — the capture stands without it
                # carry Bloom sidecars too (same immutable files), so a
                # restore/clone keeps point-get pruning without a rebuild
                try:
                    self._carry_bloom_sidecars(
                        src, sdir, [os.path.basename(f) for f in files]
                    )
                except Exception:
                    pass  # cache only
        except BaseException:
            # never leave a half-captured snapshot listed/restorable
            shutil.rmtree(sdir, ignore_errors=True)
            raise
        with open(os.path.join(sdir, "_spec.json"), "w") as f:
            json.dump(
                {
                    "qualified_name": qualified_name,
                    "key_type": spec.key_type,
                    "families": spec.families,
                    "generator": spec.generator,
                    "split_keys": list(spec.split_keys),
                    "properties": dict(spec.properties),
                },
                f,
            )

    def list_snapshots(self) -> list[str]:
        root = os.path.join(self.warehouse_dir, ".snapshots")
        return sorted(os.listdir(root)) if os.path.isdir(root) else []

    def delete_snapshot(self, snapshot_name: str) -> None:
        shutil.rmtree(self._snapshot_dir(snapshot_name), ignore_errors=True)

    def export_snapshot(self, snapshot_name: str, dest_warehouse: str) -> str:
        """Copy a named snapshot into ANOTHER warehouse — HBase
        ``ExportSnapshot`` (the cluster-to-cluster snapshot shipping
        tool): the snapshot's data files, declared spec, span manifest,
        and Bloom sidecars land under
        ``<dest_warehouse>/.snapshots/<name>``, where a
        :class:`KeyedTableStore` over that warehouse can
        :meth:`clone_snapshot` / :meth:`restore_snapshot` it.

        Zero-copy where the filesystem allows (hardlinks via
        :meth:`_link_or_copy`; byte copies across filesystems) — the
        HBase tool likewise ships immutable HFiles.  Bootstrapping a
        replica is export + clone; from then on ship the CHANGEFEED
        instead (``read_changes(table, versus=<snapshot>)`` →
        :meth:`apply_changes` on the replica), which moves O(delta),
        not O(table).  A failed export never leaves a half-shipped
        destination behind (cleanup on failure — the :meth:`snapshot`
        discipline).  Returns the destination snapshot directory."""
        src = self._snapshot_dir(snapshot_name)
        if not os.path.isdir(src):
            raise TableNotFoundError(f"snapshot not found: {snapshot_name}")
        dst = os.path.join(dest_warehouse, ".snapshots", snapshot_name)
        if os.path.exists(dst):
            raise TableAlreadyExistsError(
                f"snapshot exists at destination: {dst}"
            )
        os.makedirs(dst)
        try:
            for root_dir, _dirs, files in os.walk(src):
                rel = os.path.relpath(root_dir, src)
                tgt = dst if rel == "." else os.path.join(dst, rel)
                os.makedirs(tgt, exist_ok=True)
                for fname in files:
                    self._link_or_copy(
                        os.path.join(root_dir, fname),
                        os.path.join(tgt, fname),
                    )
        except BaseException:
            shutil.rmtree(dst, ignore_errors=True)
            raise
        return dst

    def _read_snapshot_spec(self, snapshot_name: str) -> dict:
        sdir = self._snapshot_dir(snapshot_name)
        if not os.path.isdir(sdir):
            raise TableNotFoundError(f"snapshot not found: {snapshot_name}")
        with open(os.path.join(sdir, "_spec.json")) as f:
            return json.load(f)

    def restore_snapshot(self, qualified_name: str, snapshot_name: str) -> None:
        """Roll the table back to a snapshot — HBase
        ``restore_snapshot``: hardlink the snapshot's files into a
        staging directory and atomically swap it live (the same
        commit protocol every DML rewrite uses), so the restore is
        metadata-only, crash-safe, and readers never observe a partial
        state.  The snapshot itself is untouched (restores can repeat).
        Covered indexes registered on the table are rebuilt to match
        the restored state, through the commit tail."""
        saved = self._read_snapshot_spec(snapshot_name)
        if saved["qualified_name"] != qualified_name:
            raise ValueError(
                f"snapshot {snapshot_name!r} was taken from "
                f"{saved['qualified_name']!r}, not {qualified_name!r}; "
                "use clone_snapshot to materialize it elsewhere"
            )
        sdir = self._snapshot_dir(snapshot_name)

        def attempt() -> tuple:
            self._swap_table_dir(
                self.registry.get(qualified_name),
                lambda staging: self._link_snapshot(sdir, staging),
                span_reuse_path=sdir,
            )
            return None, True, None

        self._commit(qualified_name, attempt, attempts=1)

    def clone_snapshot(
        self, snapshot_name: str, new_qualified_name: str
    ) -> None:
        """Materialize a snapshot as a NEW table — HBase
        ``clone_snapshot``: a fresh table under the snapshot's declared
        schema whose FIRST generation hardlinks the snapshot's files
        (the :meth:`restore_snapshot` build, no Spark job), with span
        manifest and Bloom sidecars carried by name.  The clone shares
        data files with the snapshot until either side rewrites (safe:
        files are immutable here)."""
        saved = self._read_snapshot_spec(snapshot_name)
        ns, name = new_qualified_name.split(".", 1)
        spec = TableSpec(
            namespace=ns,
            name=name,
            key_type=saved["key_type"],
            families=saved["families"],
            generator=saved.get("generator"),
            split_keys=list(saved.get("split_keys") or []),
            properties=dict(saved.get("properties") or {}),
        )
        sdir = self._snapshot_dir(snapshot_name)

        def build(gen: str) -> None:
            self._link_snapshot(sdir, gen)
            self._write_span_manifest(gen, known=self._load_span_stats(sdir))
            self._write_bloom_filters(spec, gen, reuse_path=sdir)

        self._create_table(spec, build)

    def _link_snapshot(self, sdir: str, gen: str) -> None:
        """Hardlink a snapshot's data files into the new generation
        directory ``gen`` — the build behind restore and clone."""
        os.makedirs(gen)
        for fname in os.listdir(sdir):
            if fname.endswith(".parquet"):
                self._link_or_copy(
                    os.path.join(sdir, fname), os.path.join(gen, fname)
                )

    # -- session-catalog integration (A8) ---------------------------------
    def _view_name(self, spec: TableSpec) -> str:
        return f"{spec.namespace}__{spec.name}"

    def _register_view(self, spec: TableSpec) -> None:
        """Expose the table to SQL, twice:

        1. A ``<ns>__<name>`` temp view (round-1 surface, kept for
           compatibility).
        2. A real session-catalog entry ``<ns>.<name>`` — an external
           parquet table inside the namespace's database — so SQL resolves
           dot-qualified names, ``USE ns`` + bare names, and ``SHOW
           DATABASES`` / ``SHOW TABLES`` list namespaces natively
           (reference: ``HBaseSessionCatalog.scala:63-102``, which resolves
           ``pw.test`` through its HBase external catalog).
        """
        self.read(spec.qualified_name).createOrReplaceTempView(self._view_name(spec))
        self._register_catalog_table(spec)

    def _register_catalog_table(self, spec: TableSpec) -> None:
        if not hasattr(self, "_catalog_paths"):
            self._catalog_paths: dict[str, str] = {}
        path = self.table_path(spec)
        qual = f"`{spec.namespace}`.`{spec.name}`"
        known = self._catalog_paths.get(spec.qualified_name)
        if known == path:
            # already registered by this store — just invalidate metadata;
            # if someone dropped the catalog entry out from under us,
            # fall through and re-register (self-heal)
            try:
                self.spark.sql(f"REFRESH TABLE {qual}")
                return
            except Exception:
                self._catalog_paths.pop(spec.qualified_name, None)
                known = None
        elif known is not None:
            # generation swap moved the data dir: repoint the existing
            # catalog entry with ONE metadata update — DROP + CREATE
            # would reintroduce the dangling-name window on the SQL
            # surface (a concurrent `SELECT ... FROM ns.name` between
            # the two statements gets TABLE_OR_VIEW_NOT_FOUND, exactly
            # what the generation manifest exists to prevent)
            try:
                self.spark.sql(f"ALTER TABLE {qual} SET LOCATION '{path}'")
                self.spark.sql(f"REFRESH TABLE {qual}")
                self._catalog_paths[spec.qualified_name] = path
                return
            except Exception:
                self._catalog_paths.pop(spec.qualified_name, None)
        ddl = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in spec.schema().fields
        )
        self.spark.sql(f"CREATE DATABASE IF NOT EXISTS `{spec.namespace}`")
        # drop-first: another store instance (e.g. an earlier gate query's
        # private warehouse) may have bound the same name to a stale path
        self.spark.sql(f"DROP TABLE IF EXISTS {qual}")
        self.spark.sql(
            f"CREATE TABLE {qual} ({ddl}) USING parquet LOCATION '{path}'"
        )
        self._catalog_paths[spec.qualified_name] = path

    def bootstrap_views(self) -> None:
        """Re-register all registry tables after session (re)start — the
        analogue of the reference's catalog resolving tables on lookup."""
        for qualified in self.registry.tables():
            self._register_view(self.registry.get(qualified))
