"""Transactional parquet table with a Delta-style commit log (S8/S9).

The reference mutates rows in place over an MVCC store (row UPDATE
loops at 1 q/s, main.py:944-960; DELETE-by-id).  On immutable columnar
storage the scalable analog is a table format whose commits swap file
sets atomically -- Delta/Iceberg ``MERGE``.  Neither ships in this
environment, so this module implements the minimal core of that idea
on a bare filesystem:

 - Data lives as ordinary parquet files under the table root (with
   hive-style ``col=val`` partition dirs when partitioned), so a plain
   ``spark.read.parquet(root)`` of a quiescent table sees exactly the
   committed rows.
 - ``_txlog/v{n}.json`` entries record file ``add``/``remove`` sets;
   table state is the fold of the log (Delta's protocol shape).  The
   commit point is a PUT-IF-ABSENT publish of the version file
   through a pluggable :class:`~.logstore.LogStore` (Delta's LogStore
   seam): hard-link CAS on the default POSIX backend, conditional PUT
   on an object store.  Concurrent writers cannot both claim a
   version, and a crash before the commit point leaves the previous
   version untouched.  Nothing in the protocol assumes atomic rename
   or links beyond that one primitive -- see logstore.py for the
   exact backend contract and the fault-injected object-store fake
   that pins it.
 - Writers stage through ``_staging/<txn>/`` (underscore dirs are
   invisible to Spark scans), and finalize AFTER the commit point by
   renaming staged files to their logged names and deleting removed
   files.  A crash mid-finalize is repaired by :meth:`_recover` on the
   next open: logged adds still sitting in staging are renamed into
   place, unreferenced files are dropped.  Readers that go through
   :meth:`read` therefore always see exactly one committed version.
 - ``merge`` rewrites ONLY the partitions the update set touches:
   the source's own partition values plus any partition currently
   holding a matched key (found by one semi-join, the analog of
   Delta's find-touched-files phase -- this second set is what makes
   a row that MOVES partitions merge correctly).  Bounded by the
   touched-partition count, not the table, which is the 100 TB
   property the reference's full-table UPDATE lacks: an update
   touching yesterday's partition costs O(partition), never
   O(table).

Concurrency: blind appends are multi-writer-safe (the O_EXCL publish
auto-bumps to the next free version -- no read dependency to
invalidate).  Read-modify-write ops (merge/delete/compact) use
optimistic concurrency with a LOGICAL conflict check (Delta's
ConflictChecker analog): when another commit lands between a
transaction's snapshot and its publish, the intervening log entries
are classified against the transaction's read scope and removal set.
Commits that provably commute -- a blind append racing a compaction,
an append to rows a restore does not touch -- are REBASED: the same
staged file actions republish at the new head, and both writers
succeed.  True overlaps raise a typed subclass of
:class:`ConcurrentWriteError` (delete/delete, delete/read, append
under serializable isolation, metadata change) with the table
untouched; callers retry against fresh state (Delta's
ConcurrentModificationException contract).  The default isolation is
``write_serializable`` (Delta's default): blind appends never
conflict with predicate RMW ops -- the serial order is
RMW-then-append.  ``isolation="serializable"`` makes appends that a
full-table read would have seen conflict too.  Whole-table-replacing
ops (overwrite / restore / repartition_layout) conflict with
concurrent adds at EITHER level -- their contract is "the table is
now exactly X", which no serial reordering can square with a row
they never saw (Delta's readWholeTable).  The streaming
foreachBatch serializes its own batches, so it never hits the
conflict path.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import col as F_col, lit as F_lit

from nyc_crash_mapper_etl_script_spark.sources.logstore import (
    LogStore,
    PosixLogStore,
)

_LOG_DIR = "_txlog"
_STAGING_DIR = "_staging"
_ARCHIVE_DIR = "_archive"
#: deletion-vector sidecars: parquet files of (file rel, row position)
#: pairs naming rows DELETED without rewriting their data file
#: (underscore dir -- invisible to plain Spark scans, like _txlog)
_DV_DIR = "_dv"
#: deletion-vector join keys; reserved -- a dv delete refuses tables
#: whose schema uses either name
_TXDV_FILE = "_txdv_file"
_TXDV_POS = "_txdv_pos"

#: sentinel distinguishing "conf never captured" from "conf was unset"
_UNSET = object()

#: table features THIS reader/writer implements (Delta's protocol
#: versions as named features).  A commit entry or checkpoint whose
#: ``requires`` names anything outside this set fails the state fold
#: with :class:`UnsupportedTableFeatureError` -- a reader that cannot
#: interpret an action must refuse the table, never fold a subset of
#: it (the pre-deletion-vector hazard: ignoring ``dv_add`` would
#: silently resurrect every deleted row).
_SUPPORTED_FEATURES = frozenset(
    {"deletion-vectors", "cluster-by", "column-mapping",
     "sharded-checkpoint"}
)

#: the checkpoint-FORMAT feature: sharded manifests stamp it into
#: their ``requires`` so a pre-sharding build's _read_ckpt (which
#: already validates ``requires``) refuses LOUDLY instead of
#: state.update()-ing a manifest with empty bulk sections -- the
#: "fold a near-empty table, then _recover() retires real data as
#: provably superseded" hazard.  FILE-scoped, not table-scoped:
#: _read_ckpt strips it from the returned state after validation, so
#: a later INLINE checkpoint of the same table stays readable by old
#: builds.  (Delta gates checkpoint-format changes the same way:
#: v2Checkpoint is a reader feature.)
_CKPT_FORMAT_FEATURE = "sharded-checkpoint"


def _strip_schema_meta(o):
    """Recursively drop nullability and field metadata from a schema
    json object -- the canonical names+types form (see
    TxTable._schema_key)."""
    if isinstance(o, dict):
        return {
            k: _strip_schema_meta(v)
            for k, v in o.items()
            if k
            not in ("nullable", "metadata", "containsNull", "valueContainsNull")
        }
    if isinstance(o, list):
        return [_strip_schema_meta(x) for x in o]
    return o


#: ops whose commit REPLACES the whole file set (or explicitly rolls
#: it back) -- their schema may legitimately differ from the newest
#: logged one in any direction, because no pre-existing file survives
#: to be misread through it
_SCHEMA_REPLACING_OPS = frozenset({"init", "overwrite", "restore", "repartition"})

#: checkpoint sharding thresholds: a state whose BULK sections (live
#: files, per-file stats, dvs, app txns) total at most
#: _CKPT_INLINE_MAX rows checkpoints as today's single JSON blob
#: (zero extra files, one read, C-speed parse); past it the bulk
#: shards into JSON-lines part files of _CKPT_PART_ROWS rows (~5 MB)
#: each.  Sharding trades ~5x parse cost per row (measured,
#: BENCH_LOG_CKPT.json scale_100k_files) for BOUNDED per-object size
#: (a million-file state is a multi-GB single blob -- past object
#: store PUT limits and a driver-memory spike to serialize),
#: incremental writes, and parts Spark can scan directly
#: (spark.read.json) -- so the threshold sits where the blob is still
#: comfortably one PUT (~5-15 MB) and only genuinely large tables pay
#: the sharded form.
_CKPT_INLINE_MAX = 50_000
_CKPT_PART_ROWS = 50_000

#: part-file encoding for sharded checkpoints.  ``parquet`` (Delta's
#: multi-part checkpoint-parquet analog) when pyarrow is importable:
#: columnar, compressed, and Spark scans the parts directly with
#: ``spark.read.parquet`` -- measured flat-or-better parse cost vs the
#: JSON-lines form at 100k files (BENCH_LOG_CKPT.json).  ``jsonl``
#: is the dependency-free fallback and the r10 on-disk form; readers
#: accept both (the manifest names its own ``part_format``).
try:  # pragma: no cover -- import probe
    import pyarrow as _pa
    import pyarrow.parquet as _pq
except Exception:  # noqa: BLE001 -- optional at runtime, not in CI
    _pa = _pq = None

#: WRITER part-format policy (ADVICE r11, txtable.py:174): the format
#: is an explicit setting, not silently import-probe-determined --
#: a heterogeneous fleet (some readers without pyarrow, an accepted
#: configuration) pins ``jsonl`` via the env var or the TxTable
#: constructor so a pyarrow-equipped writer can't strand
#: pyarrow-less readers once cleanup_log makes a parquet-part
#: checkpoint load-bearing.  ``auto`` (the default) keeps the r11
#: behavior: parquet iff pyarrow imports in THIS process.
_CKPT_FORMAT_ENV = "SPARK_GRAFT_CKPT_PART_FORMAT"


def _resolve_ckpt_part_format(explicit: "str | None" = None) -> str:
    fmt = (
        explicit
        if explicit is not None
        else os.environ.get(_CKPT_FORMAT_ENV, "auto")
    ).lower()
    if fmt not in ("auto", "parquet", "jsonl"):
        raise ValueError(
            f"checkpoint part format must be 'auto', 'parquet' or "
            f"'jsonl', got {fmt!r}"
        )
    if fmt == "auto":
        return "parquet" if _pa is not None else "jsonl"
    if fmt == "parquet" and _pa is None:
        raise ValueError(
            "checkpoint part format pinned to 'parquet' but pyarrow "
            "is not importable in this process"
        )
    return fmt

#: state sections sharded out of the checkpoint manifest
_CKPT_BULK_KEYS = ("live", "dv_live", "dv_staged", "txn", "stats")

#: per-handle parsed-entry cache bound.  Entries are small JSON; the
#: bound exists only so a handle that walks very deep history (a full
#: audit over an uncleaned million-commit log) cannot grow without
#: limit.  Maintained tables bound the log itself via checkpoints +
#: cleanup_log long before this trips.
_ENTRY_CACHE_MAX = 4096


def _path_partition_cols(rel: str) -> frozenset[str]:
    """Column names hive-encoded as ``col=`` directory components of a
    relative file path.  THE layout classifier: reads group by this
    set so each group's partition values are taken from wherever they
    actually live (path for that group's encoded columns, file data
    for the rest), and partition-scoped rewrites treat any live file
    not carrying the full current spec as potentially-touched."""
    return frozenset(
        c.split("=", 1)[0] for c in rel.split(os.sep)[:-1] if "=" in c
    )


def _pinned(df: DataFrame) -> DataFrame:
    """``df`` with its rows fixed before a rewrite retires any file:
    ``df`` itself when its plan is already a scan of a locally
    checkpointed RDD (``localCheckpoint``, or ``share_corpus_subtree``
    under its bound), whose blocks the write computes once and keeps;
    otherwise an eager localCheckpoint of ``df``."""
    plan = df._jdf.queryExecution().analyzed()
    if (
        plan.getClass().getSimpleName() == "LogicalRDD"
        and plan.rdd().isLocallyCheckpointed()
    ):
        return df
    return df.localCheckpoint()


class MixedPartitionLayoutError(RuntimeError):
    """A partition-pruned read found live files WITHOUT the hive
    ``col=`` path component: rows of unknown partition value that
    path pruning would silently skip.  Raised by
    :meth:`TxTable.partition_files`; :meth:`TxTable.read_partitions`
    degrades to a full (correct, unpruned) scan instead, and
    :meth:`TxTable.repartition_layout` rewrites the table into a
    clean single layout."""


class UnsupportedTableFeatureError(RuntimeError):
    """The commit log requires a table feature this build does not
    implement (Delta's InvalidProtocolVersionException): a future
    writer stamped an entry or checkpoint with ``requires`` outside
    :data:`_SUPPORTED_FEATURES`.  Every state-dependent operation
    raises rather than folding the log partially -- unknown actions
    cannot be skipped safely (they may remove rows, remap columns,
    or redefine visibility)."""


class ConcurrentWriteError(RuntimeError):
    """A read-modify-write commit (merge/delete/compact) lost the
    version race to a commit it does NOT commute with: another writer
    changed state this transaction read or removed, so its staged
    actions are stale.  The table is untouched; re-run the operation
    against the new state (Delta's ConcurrentModificationException
    analog).  Blind appends carry no FILE read dependency and
    auto-bump to the next free version, but a schema-carrying append
    that loses a version race may still raise a retryable subclass
    from the commit-point metadata guard (:class:`MetadataChangedError`
    for a concurrent schema / partition / cluster / column-map /
    drop-column change, or this base class when the winning entry is
    not yet readable on a lagging object store -- see
    :meth:`TxTable._guard_blind_bump`); callers should treat appends
    as retryable too.  RMW ops that lose the race to a COMMUTING
    commit (e.g. compact vs blind append) rebase and succeed instead
    of raising (see :meth:`TxTable._rebase`).  The typed subclasses
    below say WHICH rule failed; catching this base class covers all
    of them."""


class ConcurrentAppendError(ConcurrentWriteError):
    """Files were added that this transaction's full-table read would
    have seen (Delta's ConcurrentAppendException).  Raised only under
    ``isolation="serializable"``: the default write_serializable
    level accepts the serial order RMW-then-append and rebases."""


class ConcurrentDeleteReadError(ConcurrentWriteError):
    """A concurrent commit removed files -- or deletion-vectored rows
    in files -- that this transaction read (Delta's
    ConcurrentDeleteReadException).  The transaction's output was
    computed from rows that no longer exist; rebasing would resurrect
    or double-count them."""


class ConcurrentDeleteDeleteError(ConcurrentWriteError):
    """A concurrent commit removed files this transaction also
    removes (Delta's ConcurrentDeleteDeleteException) -- two
    compactions or two rewrites raced over the same files."""


class MetadataChangedError(ConcurrentWriteError):
    """A concurrent commit changed table metadata -- schema,
    partition layout, cluster spec, constraints -- or was itself a
    restore/repartition (Delta's MetadataChangedException).  File
    actions computed under the old metadata cannot be replayed."""


class TxTable:
    """A parquet table whose mutations are atomic log commits.

    ``retain_history=True`` moves superseded files into the hidden
    ``_archive/`` dir instead of deleting them, enabling
    ``read(version=N)`` time travel (reproducible backfills against
    yesterday's table) at the cost of storage until :meth:`vacuum`.
    The default keeps the eager-delete behavior, which also keeps a
    quiescent table byte-identical to what a plain
    ``spark.read.parquet(root)`` sees."""

    def __init__(
        self,
        root: str,
        partition_by: list[str] | None = None,
        retain_history: bool = False,
        stale_staging_seconds: float = 3600.0,
        cluster_by: tuple[list[str], list[str], int] | None = None,
        constraints: dict[str, str] | None = None,
        log_store: LogStore | None = None,
        checkpoint_every: int = 10,
        isolation: str = "write_serializable",
        ckpt_part_format: "str | None" = None,
    ) -> None:
        self.root = root.rstrip("/")
        #: sharded-checkpoint part encoding policy for THIS writer:
        #: 'parquet' / 'jsonl' / 'auto' (None defers to
        #: $SPARK_GRAFT_CKPT_PART_FORMAT, default auto).  Resolved
        #: EAGERLY: a typo or an unsatisfiable pin (parquet without
        #: pyarrow) fails loudly at construction -- inside
        #: _maybe_checkpoint it would be swallowed by the best-effort
        #: handler and the table would silently never checkpoint
        #: (unbounded fold cost, the exact failure mode the explicit
        #: setting exists to prevent).
        self._ckpt_part_format = _resolve_ckpt_part_format(ckpt_part_format)
        #: conflict-detection level for read-modify-write commits
        #: (Delta's isolation levels).  ``write_serializable``
        #: (default): blind appends never conflict with predicate RMW
        #: ops -- they rebase with serial order RMW-then-append.
        #: ``serializable``: appends a full-table read would have seen
        #: raise :class:`ConcurrentAppendError` instead.
        if isolation not in ("write_serializable", "serializable"):
            raise ValueError(
                f"isolation must be 'write_serializable' or "
                f"'serializable', got {isolation!r}"
            )
        self.isolation = isolation
        #: the commit-protocol backend (logstore.py): put-if-absent
        #: log publishes, finalize/retire moves, restore links.  The
        #: POSIX default covers local/NFS mounts; an object-store
        #: deployment injects a conditional-PUT implementation --
        #: nothing else in the protocol assumes link(2) or atomic
        #: rename (the FakeObjectStore fault suite pins that).
        self.store = log_store or PosixLogStore()
        #: hive partition layout.  Like ``cluster_by``, the spec is
        #: PERSISTED in every commit entry and a handle opened without
        #: the argument inherits it from the log (see the
        #: ``partition_by`` property) -- so a bare ``TxTable(root)``
        #: used by compact()/merge keeps rewriting the partitioned
        #: layout instead of silently flattening it, which would make
        #: those files invisible to :meth:`partition_files`.
        self._partition_by = list(partition_by or [])
        #: True once the constructor value has been reconciled against
        #: the newest logged spec (lazy: the log may not exist yet).
        self._partition_reconciled = False
        #: True once ANY commit entry is known to carry a spec --
        #: from then on every commit re-logs it, INCLUDING an empty
        #: one (so a restore to a pre-layout version records the flat
        #: layout instead of leaving a stale later spec as newest).
        self._partition_spec_logged = False
        self.retain_history = retain_history
        #: CLUSTER-BY write hint: ``(bucket_cols, sort_cols, n_buckets)``.
        #: Every write lays data out hash-bucketed on ``bucket_cols``
        #: and sorted by ``sort_cols`` within each bucket (one file per
        #: bucket per rewrite), and the spec is PERSISTED in each
        #: commit entry, so a fresh handle opened without the argument
        #: inherits it from the log.  ``read_clustered`` then exposes
        #: the table as a bucketed catalog scan whose output
        #: partitioning/ordering Catalyst trusts: a window or as-of
        #: fill over (bucket_cols; sort_cols) plans with ZERO Exchange
        #: and ZERO Sort -- the shuffle+sort is paid once at write,
        #: amortized over every subsequent as-of query (the
        #: Delta/Iceberg OPTIMIZE cluster-by contract).  Mutually
        #: exclusive with ``partition_by``.
        if cluster_by is not None and self._partition_by:
            raise ValueError("cluster_by and partition_by are mutually exclusive")
        self._cluster_by = (
            (list(cluster_by[0]), list(cluster_by[1]), int(cluster_by[2]))
            if cluster_by is not None
            else None
        )
        #: CHECK constraints: name -> SQL boolean expression over a
        #: row.  Validated on every data-introducing write (init /
        #: append / merge / overwrite / merge_update source) BEFORE
        #: anything stages; SQL CHECK semantics -- a row fails only
        #: when the expression is provably FALSE (NULL passes).
        #: Persisted in each commit entry like cluster_by, so handles
        #: opened without the argument still enforce them.  The
        #: reference analog is its pre-flight sanity gates (key
        #: uniqueness / nonzero-polygon checks aborting the run,
        #: initialpolygonlinkage/linkthem.py:52-65) -- moved into the
        #: storage layer where every writer inherits them.
        self._constraints = dict(constraints) if constraints else None
        #: recovery only garbage-collects an uncommitted staging dir
        #: once it is at least this old: a CONCURRENT writer's live
        #: staging must survive a peer's recovery pass (the Delta
        #: VACUUM-retention idea applied to staged-but-uncommitted
        #: files).  Crashed transactions' staging lingers at most this
        #: long before the next recovery sweeps it.
        self.stale_staging_seconds = stale_staging_seconds
        #: read_clustered bookkeeping, reversed by drop_clustered:
        #: catalog names this handle registered, and the bucketed-scan
        #: ordering conf's value before this handle first flipped it.
        self._clustered_names: set[str] = set()
        self._prior_bucket_conf = _UNSET
        #: write a log CHECKPOINT (the fully-replayed state, Delta's
        #: _last_checkpoint analog) every N commits, so state
        #: reconstruction -- every open, read, and commit -- costs
        #: O(tail since the last checkpoint) instead of O(all commits
        #: ever).  A checkpoint is a pure replay cache: readers that
        #: find none (or a corrupt one) fold the full log; 0 disables.
        self.checkpoint_every = int(checkpoint_every or 0)
        #: version-keyed replay cache (a committed version's state is
        #: immutable, so entries never go stale); tiny LRU
        self._state_cache: dict[int, dict] = {}
        #: parsed commit entries keyed by log file name.  Entries are
        #: IMMUTABLE once published (the CAS claims the name exactly
        #: once; cleanup_log only ever deletes files whose bytes the
        #: cache reproduces verbatim), so cached parses never go
        #: stale -- Delta's incrementally-maintained Snapshot idea at
        #: the parse layer.  Without it a long-lived writer handle
        #: (the chained streaming pipelines) re-reads and re-parses
        #: the same tail JSON on every state fold, conflict walk, and
        #: bump guard (the r9 tx-path drift).  Consumers treat parsed
        #: entries as READ-ONLY.
        self._entry_cache: dict[str, dict] = {}
        #: diagnostic: how many entry-JSON parses this handle has done
        #: (regression-tested -- a drain of N batches must parse each
        #: entry once, not once per fold)
        self._entry_parses = 0

    # -- log plumbing -----------------------------------------------------

    def _log_dir(self) -> str:
        return os.path.join(self.root, _LOG_DIR)

    def exists(self) -> bool:
        return any(
            f.endswith(".json") for f in self.store.list_dir(self._log_dir())
        )

    @property
    def partition_by(self) -> list[str]:
        """The EFFECTIVE hive partition columns: the constructor's, or
        (when the constructor gave none) the newest spec recorded in
        the commit log -- the exact ``cluster_spec`` inheritance rule,
        closing the hole where a bare ``TxTable(root)`` handle
        rewrote a partitioned table flat and its files fell out of
        :meth:`partition_files`' path pruning.  A constructor value
        that CONTRADICTS a logged spec raises: silently honoring
        either side would make reads and writes disagree about
        layout."""
        if not self._partition_reconciled:
            logged = self._logged_partition_by()
            if logged is not None:
                self._partition_spec_logged = True
                if self._partition_by and self._partition_by != logged:
                    raise ValueError(
                        f"partition_by mismatch at {self.root}: handle "
                        f"says {self._partition_by}, commit log says "
                        f"{logged}"
                    )
                self._partition_by = logged
                self._partition_reconciled = True
            elif self.exists():
                # log present but never recorded a spec (pre-upgrade
                # table): the constructor value stands, and the next
                # commit persists it.
                self._partition_reconciled = True
        return self._partition_by

    @partition_by.setter
    def partition_by(self, value) -> None:
        value = list(value or [])
        if value and self.cluster_spec() is not None:
            raise ValueError(
                "cluster_by and partition_by are mutually exclusive: "
                f"{self.root} has a cluster spec {self.cluster_spec()}"
            )
        current = self.partition_by  # runs the log reconcile
        if value and current and value != current:
            raise ValueError(
                f"partition_by mismatch at {self.root}: cannot set "
                f"{value}, effective layout is {current} (rewrite the "
                f"table to change its partitioning)"
            )
        if not value and current:
            # an explicit EMPTY assignment against a live layout is a
            # layout CHANGE, and the setter's contract is fail-loud on
            # those: silently keeping the logged spec (the old
            # ``value or current`` fold) would make the caller believe
            # the table went flat while every write keeps partitioning
            raise ValueError(
                f"cannot clear partition_by at {self.root}: effective "
                f"layout is {current}; flatten via repartition_layout "
                f"or restore to a pre-layout version"
            )
        self._partition_by = value or current
        self._partition_reconciled = True

    def _logged_partition_by(self, version: int | None = None):
        """The newest ``partition_by`` recorded in the log at or
        before ``version`` (``None`` = head); ``None`` if never
        recorded.  An explicit empty list IS a recorded spec (a
        restore to a pre-layout version logs ``[]`` so bare handles
        stop inheriting the later layout)."""
        st = self._state(version)
        return list(st["partition_by"]) if "partition_by" in st else None

    def _read_entry(self, name: str) -> dict:
        """Parse one commit entry by log file name through the
        per-handle cache (see ``_entry_cache``).  Raises whatever the
        store raises on a missing/unreadable file -- failures are
        never cached; a hit for a file ``cleanup_log`` has since
        deleted returns the exact content the file carried (entries
        are immutable), which only ever makes conflict checks MORE
        complete."""
        e = self._entry_cache.get(name)
        if e is None:
            e = json.loads(
                self.store.read_bytes(os.path.join(self._log_dir(), name))
            )
            self._entry_parses += 1
            if len(self._entry_cache) >= _ENTRY_CACHE_MAX:
                self._entry_cache.pop(next(iter(self._entry_cache)))
            self._entry_cache[name] = e
        return e

    def _entries(self) -> list[dict]:
        entry_names, _ = self._list_log()
        return [self._read_entry(name) for name in entry_names]

    # -- checkpointed state reconstruction ---------------------------------
    #
    # Every table operation needs the REPLAYED state (live files, live
    # dvs, newest schema/layout/constraints, app txns, skipping stats),
    # and folding the whole log per operation is O(all commits ever) --
    # a stream appending one commit per trigger for a week pays the
    # week on every batch.  A checkpoint entry (hidden
    # ``.ckpt_v{n}.json``, Delta's checkpoint-parquet analog) stores
    # the fold at version n; _state() resumes from the newest one at or
    # below the asked version and folds only the tail.  Checkpoints are
    # pure caches -- optional, best-effort, CAS-published like entries
    # so racing writers cannot corrupt one -- EXCEPT after
    # :meth:`cleanup_log`, which deletes entries a checkpoint covers
    # and makes it load-bearing (guarded by the continuity check).

    @staticmethod
    def _entry_version(name: str) -> int:
        return int(name[1:-5])  # vNNNNNN.json

    @staticmethod
    def _ckpt_version(name: str) -> int:
        return int(name[7:-5])  # .ckpt_vNNNNNN.json

    def _ckpt_name(self, version: int) -> str:
        return f".ckpt_v{version:06d}.json"

    def _list_log(self) -> "tuple[list[str], list[str]]":
        """ONE log-dir listing, split into (commit entry names,
        checkpoint names), each sorted ascending by version."""
        entries, ckpts = [], []
        for name in self.store.list_dir(self._log_dir()):
            if name.startswith(".ckpt_v") and name.endswith(".json"):
                ckpts.append(name)
            elif name.endswith(".json") and not name.startswith("."):
                entries.append(name)
        return sorted(entries), sorted(ckpts)

    @staticmethod
    def _fold(state: dict, e: dict) -> None:
        """Apply one commit entry to a replayed state (the single
        definition of the log's fold semantics -- checkpoints are
        serialized states, so writer and readers share this)."""
        req = set(e.get("requires", [])) - _SUPPORTED_FEATURES
        if req:
            raise UnsupportedTableFeatureError(
                f"commit v{e.get('version')} ({e.get('op', '?')}) requires "
                f"table feature(s) {sorted(req)} this build does not "
                "implement; upgrade before touching this table"
            )
        if e.get("requires"):
            # ride the cumulative feature set on the state so
            # CHECKPOINTS carry it too -- a reader resuming from a
            # checkpoint must hit the same guard as one folding the
            # raw entries
            state["requires"] = sorted(
                set(state.get("requires", [])) | set(e["requires"])
            )
        state["version"] = e["version"]
        staged = e.get("staged", {})
        for f in e.get("remove", []):
            state["live"].pop(f, None)
        for f in e.get("add", []):
            state["live"][f] = staged.get(f, "")
        for r in e.get("dv_remove", []):
            state["dv_live"].pop(r, None)
            state["dv_staged"].pop(r, None)
        state["dv_live"].update(e.get("dv_add", {}))
        state["dv_staged"].update(e.get("staged_dv", {}))
        for k in (
            "schema",
            "partition_by",
            "cluster_by",
            "constraints",
            "column_map",
            "dropped_physical",
        ):
            if k in e:
                state[k] = e[k]
        if e.get("op") in ("init", "compact", "compact_small", "overwrite",
                           "repartition"):
            # rides the state (and thus checkpoints) so the
            # auto-compaction trigger survives cleanup_log deleting
            # the rewrite's own entry -- a retention window smaller
            # than the compaction cadence must not starve it
            state["last_rewrite_version"] = e["version"]
        txn = e.get("txn")
        if txn is not None:
            state["txn"][txn["app_id"]] = int(txn["version"])
        for f, cols in e.get("stats", {}).items():
            state["stats"][f] = cols

    def _state(self, version: "int | None" = None) -> dict:
        """The replayed table state as of ``version`` (``None`` =
        head): the newest checkpoint at or below it plus a fold of the
        tail entries -- O(tail), not O(history).  States of committed
        versions are immutable, so the per-handle cache never goes
        stale.  Raises FileNotFoundError when the range needed for an
        exact fold has holes (cleanup_log removed history below the
        asked version)."""
        entry_names, ckpt_names = self._list_log()
        versions = [self._entry_version(n) for n in entry_names]
        head = versions[-1] if versions else 0
        if ckpt_names:
            head = max(head, self._ckpt_version(ckpt_names[-1]))
        v = head if version is None else min(version, head)
        cached = self._state_cache.get(v)
        if cached is not None:
            return cached
        state = {
            "version": 0,
            "live": {},
            "dv_live": {},
            "dv_staged": {},
            "txn": {},
            "stats": {},
        }
        lo = 0
        # fold base: the newest CACHED state at or below v when it
        # beats every readable checkpoint -- the single-writer steady
        # path (a stream committing once per trigger) then folds
        # exactly the NEW entries onto a copy of the previous head
        # state instead of re-reading checkpoint + tail every call
        best_cached = max(
            (cv for cv in self._state_cache if cv <= v), default=0
        )
        ckpt_errs: "list[tuple[str, Exception]]" = []
        for name in reversed(ckpt_names):
            cv = self._ckpt_version(name)
            if cv > v:
                continue
            if cv <= best_cached:
                break  # the cached fold is at least as fresh
            try:
                data = self._read_ckpt(name)
            except UnsupportedTableFeatureError:
                # NOT the corrupt-fallback: a well-formed checkpoint
                # demanding an unimplemented feature means the raw
                # entries demand it too -- refuse
                raise
            except Exception as exc:  # noqa: BLE001 -- a checkpoint is
                # a cache: corrupt/vanished -> older or full fold.
                # Remembered so that if the fallback fold ALSO fails
                # (cleanup_log made this checkpoint load-bearing) the
                # error names the real problem -- e.g. parquet parts
                # without pyarrow -- not "cleanup_log ate the log"
                # (ADVICE r11, txtable.py:174)
                ckpt_errs.append((name, exc))
                continue
            state.update(data)
            lo = cv
            break
        if lo == 0 and best_cached:
            state = self._copy_state(self._state_cache[best_cached])
            lo = best_cached
        tail = [
            (vv, n) for vv, n in zip(versions, entry_names) if lo < vv <= v
        ]
        expect = list(range(lo + 1, tail[-1][0] + 1)) if tail else []
        if [vv for vv, _ in tail] != expect or (
            not tail and lo < v and v > 0
        ):
            hint = ""
            if ckpt_errs:
                cname, cexc = ckpt_errs[0]  # the newest one skipped
                hint = (
                    f" -- NOTE: checkpoint {cname} covering this range "
                    f"failed to load ({cexc}); fixing that load error "
                    "may make the table readable without the removed "
                    "history"
                )
            raise FileNotFoundError(
                f"{self.root}: commit log has no contiguous entries in "
                f"({lo}, {v}] -- cleanup_log removed history below a "
                f"checkpoint this read needs{hint}"
            ) from (ckpt_errs[0][1] if ckpt_errs else None)
        for _, name in tail:
            self._fold(state, self._read_entry(name))
        if len(self._state_cache) >= 4:
            self._state_cache.pop(next(iter(self._state_cache)))
        self._state_cache[v] = state
        return state

    @staticmethod
    def _copy_state(st: dict) -> dict:
        """One-level copy of a folded state: _fold only ever mutates
        the TOP-LEVEL containers (pops/sets on live/dv_live/stats/...,
        wholesale replacement of nested values), so copying each
        container is enough to fold forward without corrupting the
        cached base."""
        return {
            k: (
                dict(val)
                if isinstance(val, dict)
                else list(val)
                if isinstance(val, list)
                else val
            )
            for k, val in st.items()
        }

    def _read_ckpt(self, name: str) -> dict:
        """Load a checkpoint by its manifest name -- inline blob or
        sharded form (see :meth:`_maybe_checkpoint`) -- into the full
        state dict.  Raises on ANY corruption (missing part, bad
        json): callers treat that as checkpoint-is-a-cache and fall
        back.  Raises :class:`UnsupportedTableFeatureError` -- which
        callers must NOT swallow -- before touching parts: a
        well-formed checkpoint demanding an unimplemented feature
        means the raw entries demand it too."""
        d = self._log_dir()
        data = json.loads(self.store.read_bytes(os.path.join(d, name)))
        unknown = set(data.get("requires", [])) - _SUPPORTED_FEATURES
        if unknown:
            raise UnsupportedTableFeatureError(
                f"checkpoint {name} requires table feature(s) "
                f"{sorted(unknown)} this build does not implement; "
                "upgrade before touching this table"
            )
        fmt = data.pop("format", None)
        if fmt is None:
            return data  # inline blob: the state IS the manifest
        if fmt != "sharded":
            # an unknown format folded as-is would be the same
            # empty-bulk / recovery-deletes-data hazard as the
            # old-reader case -- corrupt-class, callers fall back
            raise ValueError(
                f"checkpoint {name} has unrecognized format {fmt!r}"
            )
        # file-scoped format feature: validated above (requires gate),
        # satisfied by reaching here -- must NOT ride the table state,
        # or every future inline checkpoint would inherit it
        if "requires" in data:
            data["requires"] = [
                r for r in data["requires"] if r != _CKPT_FORMAT_FEATURE
            ]
            if not data["requires"]:
                del data["requires"]
        version = self._ckpt_version(name)
        n_parts = int(data.pop("parts"))
        part_fmt = data.pop("part_format", "jsonl")  # r10 manifests: jsonl
        if part_fmt not in ("jsonl", "parquet"):
            raise ValueError(
                f"checkpoint {name} names unrecognized part_format "
                f"{part_fmt!r}"
            )
        # reassembly validation (vs manifest-recorded counts): racing
        # writers' parts are only byte-identical when they share
        # _CKPT_PART_ROWS and fold ordering -- a leftover part from a
        # crashed attempt by a DIFFERENT build mixes two row
        # partitionings; without this check _read_ckpt would succeed
        # with missing/duplicated rows and cleanup_log would then
        # validate against the corrupt state and delete raw entries
        part_rows = data.pop("part_rows", None)
        total_rows = data.pop("rows", None)
        bulk: dict[str, dict] = {k: {} for k in _CKPT_BULK_KEYS}
        n_rows = 0
        for i in range(n_parts):
            raw = self.store.read_bytes(
                os.path.join(d, self._ckpt_part_name(version, i, part_fmt))
            )
            rows = self._decode_ckpt_part(raw, part_fmt, name)
            if part_rows is not None and len(rows) != part_rows[i]:
                raise ValueError(
                    f"checkpoint {name} part {i} has {len(rows)} rows, "
                    f"manifest says {part_rows[i]} -- mixed-partitioning "
                    "corruption (crashed writer with different part size?)"
                )
            n_rows += len(rows)
            for row in rows:
                bulk[row["s"]][row["k"]] = row["v"]
        if total_rows is not None and n_rows != total_rows:
            raise ValueError(
                f"checkpoint {name} reassembled {n_rows} bulk rows, "
                f"manifest says {total_rows}"
            )
        data.update(bulk)
        return data

    @staticmethod
    def _decode_ckpt_part(raw: bytes, part_fmt: str, name: str) -> list:
        """Decode one checkpoint part file into its
        ``{"s": section, "k": key, "v": value}`` rows.  Unknown part
        formats raise (corrupt-class -- a fold over misdecoded parts
        is the data-loss path, never a fallback)."""
        if part_fmt == "jsonl":
            return [
                json.loads(line)
                for line in raw.splitlines()
                if line.strip()
            ]
        if part_fmt == "parquet":
            if _pq is None:
                raise ValueError(
                    f"checkpoint {name} has parquet parts but pyarrow "
                    "is not importable here -- falling back to an "
                    "older checkpoint / full fold"
                )
            import io

            tbl = _pq.read_table(io.BytesIO(raw))
            cols = tbl.to_pydict()
            return [
                {"s": s, "k": k, "v": json.loads(v)}
                for s, k, v in zip(cols["s"], cols["k"], cols["v"])
            ]
        raise ValueError(
            f"checkpoint {name} names unrecognized part_format "
            f"{part_fmt!r}"
        )

    def _maybe_checkpoint(self, version: int) -> None:
        """Opportunistically publish the state fold at ``version``
        as a checkpoint (every ``checkpoint_every`` commits).  Best
        effort: a racing writer's CAS win or any IO failure leaves the
        log exactly as functional, just uncached.

        SCALE FORM (Delta's multi-part checkpoint analog): past
        ``_CKPT_INLINE_MAX`` bulk rows (live files + stats + dvs +
        txns) the bulk sections shard into ``ckpt_vNNNNNN.pNNNN.<ext>``
        part files of ``_CKPT_PART_ROWS`` rows each -- written and read
        incrementally, so a million-file state never serializes as one
        driver-side JSON blob -- and the manifest (the ordinary
        ``.ckpt_vNNNNNN.json`` name, carrying the scalar state plus
        ``format/part_format/parts``) publishes LAST via the same CAS,
        so readers only ever see complete checkpoints.  Each part is
        one ``(s, k, v)`` row per bulk item (section, key, value) in
        this writer's ``_ckpt_part_format``: ``.parquet`` (``v`` as a
        JSON string; the ``auto`` default whenever pyarrow imports)
        readable by ``spark.read.parquet``, or ``.jsonl`` JSON-lines
        readable by ``spark.read.json``.  A checkpoint at a
        version is a pure function of the log, so racing writers'
        parts are byte-identical and FileExistsError means done."""
        if not self.checkpoint_every or version % self.checkpoint_every:
            return
        try:
            state = dict(self._state(version))
            # stats and staging references of dead files are dead
            # weight in a cache meant to bound cost -- prune to live
            state["stats"] = {
                f: c for f, c in state["stats"].items() if f in state["live"]
            }
            state["dv_staged"] = {
                r: s
                for r, s in state["dv_staged"].items()
                if r in state["dv_live"]
            }
            d = self._log_dir()
            bulk_rows = sum(
                len(state.get(k) or {}) for k in _CKPT_BULK_KEYS
            )
            if bulk_rows <= _CKPT_INLINE_MAX:
                self.store.put_if_absent(
                    os.path.join(d, self._ckpt_name(version)),
                    json.dumps(state).encode(),
                )
                return
            manifest = {
                k: v for k, v in state.items() if k not in _CKPT_BULK_KEYS
            }
            part_fmt = self._ckpt_part_format

            def rows():
                for section in _CKPT_BULK_KEYS:
                    for k, v in (state.get(section) or {}).items():
                        yield {"s": section, "k": k, "v": v}

            part, n_parts, part_rows = [], 0, []
            for row in rows():
                part.append(row)
                if len(part) >= _CKPT_PART_ROWS:
                    self._put_ckpt_part(d, version, n_parts, part, part_fmt)
                    part_rows.append(len(part))
                    n_parts += 1
                    part = []
            if part:
                self._put_ckpt_part(d, version, n_parts, part, part_fmt)
                part_rows.append(len(part))
                n_parts += 1
            manifest["format"] = "sharded"
            manifest["part_format"] = part_fmt
            manifest["parts"] = n_parts
            manifest["part_rows"] = part_rows
            manifest["rows"] = sum(part_rows)
            # format feature gate: a pre-sharding build validates
            # requires BEFORE looking at format, so this makes it
            # refuse loudly instead of folding the bulk-less manifest
            manifest["requires"] = sorted(
                set(manifest.get("requires", [])) | {_CKPT_FORMAT_FEATURE}
            )
            self.store.put_if_absent(
                os.path.join(d, self._ckpt_name(version)),
                json.dumps(manifest).encode(),
            )
        except FileExistsError:
            pass  # a peer checkpointed the same version -- identical fold
        except Exception:  # noqa: BLE001 -- cache write is best-effort
            pass

    def _put_ckpt_part(
        self, d: str, version: int, i: int, rows: list[dict], part_fmt: str
    ) -> None:
        if part_fmt == "parquet":
            import io

            buf = io.BytesIO()
            _pq.write_table(
                _pa.table(
                    {
                        "s": [r["s"] for r in rows],
                        "k": [r["k"] for r in rows],
                        "v": [json.dumps(r["v"]) for r in rows],
                    }
                ),
                buf,
            )
            payload = buf.getvalue()
        else:
            payload = (
                "\n".join(json.dumps(r) for r in rows) + "\n"
            ).encode()
        path = os.path.join(d, self._ckpt_part_name(version, i, part_fmt))
        try:
            self.store.put_if_absent(path, payload)
        except FileExistsError:
            # a racing SAME-BUILD writer's part is byte-identical (a
            # checkpoint at a version is a pure function of the log),
            # so adoption is normally free.  But a leftover from a
            # CRASHED attempt by a build with different
            # _CKPT_PART_ROWS / fold ordering is NOT -- and a manifest
            # published over it would be permanently corrupt-class at
            # this version (every read fails row-count validation and
            # pays the full fold until a later checkpoint supersedes
            # it; ADVICE r11, txtable.py:904).  Verify the adopted
            # bytes match what we meant to write; on mismatch, raise
            # so _maybe_checkpoint's best-effort handler ABORTS the
            # whole attempt before the manifest CAS (skipping a cache
            # write is free; cleanup_log's orphan sweep collects the
            # stray parts later).
            if self.store.read_bytes(path) != payload:
                raise ValueError(
                    f"existing checkpoint part {os.path.basename(path)} "
                    "differs from this writer's bytes (crashed attempt "
                    "by a different build?) -- aborting checkpoint "
                    f"at v{version}"
                )

    @staticmethod
    def _ckpt_part_name(version: int, i: int, part_fmt: str) -> str:
        # NO leading dot: Spark's file index filters dot/underscore
        # names as hidden, and part files are meant to be directly
        # scannable (spark.read.parquet / spark.read.json).  They are
        # invisible to _list_log by suffix (.parquet/.jsonl, never
        # .json) and live inside the _txlog dir Spark never scans
        # implicitly.
        ext = "parquet" if part_fmt == "parquet" else "jsonl"
        return f"ckpt_v{version:06d}.p{i:04d}.{ext}"

    def cleanup_log(
        self, before: "int | None" = None, keep_versions: int = 0
    ) -> int:
        """Delete commit entries at or below a CHECKPOINTED version
        (default: the newest checkpoint), Delta's log-retention
        cleanup.  The checkpoint becomes load-bearing: state at or
        above it folds checkpoint+tail exactly as before, while time
        travel, changes(), and stream catch-up BELOW it now raise the
        same vacuumed-history errors vacuum() already produces for
        data files.  Returns the number of log files removed.  The
        cutoff must equal a checkpoint version -- anything else would
        leave a fold range no checkpoint covers.

        ``keep_versions=N`` retains a trailing window: the cutoff is
        the newest checkpoint at or below head-N, so a change-feed
        consumer lagging up to N commits keeps its catch-up range (a
        maintained long-running stream bounds its log listing with
        this without orphaning its own downstream)."""
        entry_names, ckpt_names = self._list_log()
        ckpt_vs = [self._ckpt_version(n) for n in ckpt_names]
        if before is None:
            limit = self._snapshot_version() - max(0, keep_versions)
            before = max((v for v in ckpt_vs if v <= limit), default=0)
        if before <= 0:
            return 0
        if before not in ckpt_vs:
            raise ValueError(
                f"cleanup_log cutoff v{before} is not a checkpointed "
                f"version (checkpoints: {ckpt_vs})"
            )
        d = self._log_dir()
        # the cutoff checkpoint becomes LOAD-BEARING the moment its
        # entries are gone -- validate its content (not just its
        # name) before the irreversible deletion, or a corrupt one
        # bricks every future state fold
        try:
            # full load -- a SHARDED checkpoint validates every part,
            # not just the manifest (a missing shard would brick folds
            # exactly like a corrupt blob)
            ck = self._read_ckpt(self._ckpt_name(before))
            assert ck["version"] == before and isinstance(ck["live"], dict)
        except Exception as exc:  # noqa: BLE001 -- refuse, don't brick
            raise ValueError(
                f"checkpoint v{before} at {self.root} is unreadable "
                f"({exc!r}); refusing to delete the entries it covers"
            ) from exc
        n = 0
        for name in entry_names:
            if self._entry_version(name) <= before:
                self.store.delete(os.path.join(d, name))
                n += 1
        for name in ckpt_names:
            if self._ckpt_version(name) < before:
                self.store.delete(os.path.join(d, name))
                n += 1
        # part files of deleted SHARDED checkpoints (invisible to
        # _list_log by design: .jsonl/.parquet, never .json), plus
        # manifest-less ORPHANS from crashed sharding attempts at
        # versions older than the newest surviving checkpoint -- a
        # writer still in flight there lost its race (its manifest, if
        # it ever lands, reads corrupt-class and falls back; a
        # checkpoint is a cache, so that is safe).  Alien files
        # matching the prefix/suffix shape are SKIPPED, never allowed
        # to abort the sweep mid-deletion.
        surviving = {v for v in ckpt_vs if v >= before}
        newest_ckpt = max(surviving, default=before)
        for name in self.store.list_dir(d):
            if not (
                name.startswith("ckpt_v")
                and ".p" in name
                and (name.endswith(".jsonl") or name.endswith(".parquet"))
            ):
                continue
            try:
                pv = int(name[len("ckpt_v"): name.index(".p")])
            except ValueError:
                continue  # alien file wearing the part-name shape
            if pv < before or (pv < newest_ckpt and pv not in surviving):
                self.store.delete(os.path.join(d, name))
                n += 1
        return n

    def _live_files(
        self, entries: list[dict] | None = None, version: int | None = None
    ) -> list[str]:
        if entries is None:
            # checkpointed fast path: O(tail since last checkpoint)
            return list(self._state(version)["live"])
        live: dict[str, None] = {}
        for e in entries:
            if version is not None and e["version"] > version:
                break
            for f in e.get("remove", []):
                live.pop(f, None)
            for f in e.get("add", []):
                live[f] = None
        return list(live)

    def _live_dvs(
        self, entries: list[dict] | None = None, version: int | None = None
    ) -> dict[str, list[str]]:
        """The LIVE deletion vectors as of ``version`` (``None`` =
        head): dv rel -> the data-file rels its positions reference.
        Replayed from the log exactly like :meth:`_live_files`
        (``dv_add`` maps in, ``dv_remove`` lists out), so a restore
        that rolled the dv set back to an older version's is honored
        by every as-of read.  Live position sets are pairwise disjoint
        per data file by construction: a dv delete only ever records
        positions that were VISIBLE at its snapshot, i.e. not already
        in any then-live dv."""
        if entries is None:
            return dict(self._state(version)["dv_live"])
        live: dict[str, list[str]] = {}
        for e in entries:
            if version is not None and e["version"] > version:
                break
            for rel in e.get("dv_remove", []):
                live.pop(rel, None)
            live.update(e.get("dv_add", {}))
        return live

    def _publish(
        self,
        entry: dict,
        base_version: int | None = None,
        read_scope: str = "files",
    ) -> int:
        """Atomically claim the next version number via the log
        store's put-if-absent -- link(2) CAS on POSIX, conditional PUT
        on an object store (logstore.py holds the backend contract).
        A taken version surfaces as FileExistsError whatever the
        backend, so a LAGGING log listing (object-store LIST) merely
        costs bump retries here, never a lost or duplicated commit.

        ``base_version`` is the snapshot version a read-modify-write
        op computed its file actions against.  If any other commit
        landed since, the intervening entries go through
        :meth:`_rebase` (Delta's ConflictChecker): commuting commits
        -- blind appends vs a compaction, disjoint rewrites -- move
        the base forward and the same entry republishes at the new
        head; true conflicts raise a typed
        :class:`ConcurrentWriteError` with the staged actions intact
        and the table untouched.  ``read_scope`` declares what the
        transaction's output depends on: ``"files"`` -- exactly its
        removal set (compact; concurrent adds never conflict),
        ``"full"`` -- the entire live set at the snapshot (merge/
        delete read the table; adds conflict only under
        ``isolation="serializable"``), ``"whole_table"`` -- the op
        asserts the COMPLETE final table content (overwrite/restore/
        repartition, Delta's readWholeTable; concurrent adds conflict
        at either isolation, or the "replaced" table would keep rows
        the op never saw).  A ``None`` ``base_version`` (append/init)
        bumps freely."""
        d = self._log_dir()
        os.makedirs(d, exist_ok=True)
        # next version from ONE listing (entries AND checkpoints: after
        # cleanup_log the head may survive only as a checkpoint, and
        # restarting version numbers would corrupt the log)
        version = self._snapshot_version() + 1
        if base_version is not None and version != base_version + 1:
            base_version = self._rebase(
                entry, base_version, version - 1, read_scope
            )
            version = base_version + 1
        elif (
            base_version is None
            and "schema" in entry
            and entry.get("op") not in _SCHEMA_REPLACING_OPS
        ):
            # blind commits (append) skip the rebase checker, so the
            # schema-regression guard runs here against the newest
            # logged schema; the bump path below re-checks against
            # every commit that wins a version race, closing the
            # listing-to-CAS window race-free
            st = self._state()
            self._assert_schema_advances(
                entry["schema"],
                st.get("schema"),
                f"{entry.get('op', '?')} at {self.root}",
                dropped=st.get("dropped_physical"),
                staged_cmap=entry.get("column_map"),
            )
        import time as _time

        rebase_rounds = 0
        while True:
            final = os.path.join(d, f"v{version:06d}.json")
            # the commit wall-clock rides the entry for timestamp
            # time travel (Delta's TIMESTAMP AS OF); taken at publish,
            # so it is non-decreasing per writer and monotone enough
            # across writers for the documented latest-at-or-before
            # resolution rule
            data = json.dumps(
                {**entry, "version": version, "ts": _time.time()}
            ).encode()
            try:
                self.store.put_if_absent(final, data)
                # seed the parsed-entry cache with OUR commit (an
                # independent parse of the exact published bytes, so
                # later mutation of the caller's entry dict can never
                # leak in): the writer's own next state fold and any
                # conflict walk over this version are then parse-free
                name = f"v{version:06d}.json"
                if len(self._entry_cache) >= _ENTRY_CACHE_MAX:
                    self._entry_cache.pop(next(iter(self._entry_cache)))
                self._entry_cache[name] = json.loads(data)
                return version
            except FileExistsError:  # concurrent commit won this version
                if base_version is not None:
                    rebase_rounds += 1
                    if rebase_rounds > 50:
                        raise ConcurrentWriteError(
                            f"gave up rebasing after {rebase_rounds} "
                            f"rounds (snapshot was v{base_version}): "
                            "the table is under sustained concurrent "
                            "writes"
                        ) from None
                    # v{version} provably exists (the CAS just hit it),
                    # so the true head is at least that even when the
                    # store's LISTing lags -- entries are read by exact
                    # path below, never through the listing
                    head = max(self._snapshot_version(), version)
                    base_version = self._rebase(
                        entry, base_version, head, read_scope
                    )
                    version = base_version + 1
                else:
                    if (
                        "schema" in entry
                        and entry.get("op") not in _SCHEMA_REPLACING_OPS
                    ):
                        self._guard_blind_bump(entry, version)
                    version += 1

    def _guard_blind_bump(self, entry: dict, version: int) -> None:
        """A blind append lost a version race: before bumping past the
        winner, prove OUR schema still contains ITS (the winner may be
        a concurrent evolution this handle never saw).  The winner's
        entry may not be readable yet on an object store (conditional
        PUT claimed, object not yet swapped in) -- brief retry, then a
        retryable abort rather than an unverified bump."""
        import time as _time

        e = None
        for _ in range(100):
            try:
                e = self._read_entry(f"v{version:06d}.json")
                break
            except (FileNotFoundError, ValueError):
                _time.sleep(0.01)
        if e is None:
            raise ConcurrentWriteError(
                f"lost the race for v{version} but cannot read the "
                "winning entry to verify schema compatibility; retry"
            )
        if "schema" in e or e.get("dropped_physical"):
            self._assert_schema_advances(
                entry["schema"],
                e.get("schema"),
                f"{entry.get('op', '?')} at {self.root}",
                dropped=e.get("dropped_physical"),
                staged_cmap=entry.get("column_map"),
            )
        for k in ("partition_by", "cluster_by", "constraints", "column_map"):
            if k in e and k in entry and e[k] != entry[k]:
                raise MetadataChangedError(
                    f"concurrent commit v{version} changed {k} under "
                    "this blind write; re-open the table and retry"
                )

    @staticmethod
    def _schema_key(sjson: "str | None") -> "str | None":
        """Canonical comparison key for a logged schema json: field
        names and types, recursively, with nullability and metadata
        stripped (they differ across otherwise-identical write paths
        and never invalidate a transaction's staged file actions)."""
        if sjson is None:
            return None
        return json.dumps(
            _strip_schema_meta(json.loads(sjson)), sort_keys=True
        )

    @staticmethod
    def _schema_fields(sjson: "str | None") -> "dict[str, str]":
        """name -> canonical type json for a logged schema -- the
        order-insensitive form schema-enforcement compares (column
        ORDER may differ between handles; column PRESENCE and TYPE
        may not silently regress)."""
        if sjson is None:
            return {}
        return {
            f["name"]: json.dumps(
                _strip_schema_meta(f["type"]), sort_keys=True
            )
            for f in json.loads(sjson).get("fields", [])
        }

    def _assert_schema_advances(
        self,
        staged_sjson: str,
        newest_sjson: "str | None",
        context: str,
        dropped: "list[str] | None" = None,
        staged_cmap: "dict | None" = None,
    ) -> None:
        """Delta's schema enforcement at the commit point: a blind
        write may only publish a schema that CONTAINS the newest
        logged schema (equal, or add-column evolution).  Without this
        a stale handle's append after a concurrent evolution re-logs
        the OLD schema as newest and every evolved column silently
        vanishes from reads -- data intact in the files, invisible to
        every consumer (verified live before the fix).

        ``dropped`` is the tombstoned physical-name set in force at
        the commit point (the state's or a winning entry's
        ``dropped_physical``).  Containment alone cannot catch a
        stale append racing :meth:`drop_column` -- the pre-drop schema
        is a strict SUPERSET of the post-drop one -- so without this
        second check the append re-logs the old schema as newest and
        logically resurrects the dropped column and its bytes (Delta
        raises MetadataChangedException here).  A column the staged
        map binds to a FRESH physical name (the sanctioned re-add
        path, :meth:`_evolve`) passes: only identity-bound tombstoned
        names abort."""
        staged = self._schema_fields(staged_sjson)
        if newest_sjson is not None:
            for name, typ in self._schema_fields(newest_sjson).items():
                if staged.get(name) != typ:
                    raise MetadataChangedError(
                        f"{context}: staged schema is missing or retypes "
                        f"column {name!r} present in the newest logged "
                        "schema -- this handle's view is stale (a "
                        "concurrent schema change landed); re-open the "
                        "table or pass evolve_schema=True"
                    )
        if dropped:
            cm = staged_cmap or {}
            hit = sorted(
                {cm.get(n, n) for n in staged} & set(dropped)
            )
            if hit:
                raise MetadataChangedError(
                    f"{context}: staged schema binds physical column(s) "
                    f"{hit} tombstoned by a concurrent drop_column -- "
                    "publishing would resurrect the dropped bytes; "
                    "re-open the table and retry"
                )

    def _rebase(
        self,
        entry: dict,
        base_version: int,
        head: int,
        read_scope: str,
    ) -> int:
        """Delta's ConflictChecker: decide whether the staged actions
        of a read-modify-write transaction snapshotted at
        ``base_version`` remain valid with commits
        ``base_version+1 .. head`` ahead of them, i.e. whether the
        serial order <txn first, winners after> produces the state
        the rebased commit creates.  Returns the new base (``head``)
        when every intervening commit commutes; raises a typed
        :class:`ConcurrentWriteError` subclass naming the first rule
        violated otherwise.  Rules, in check order per entry:

        - restore / repartition, or a changed schema / partition_by /
          cluster_by / constraints -> :class:`MetadataChangedError`
          (file actions computed under the old metadata).
        - winner removed files this txn removes ->
          :class:`ConcurrentDeleteDeleteError`.
        - winner removed files this txn READ (the full live set at
          the snapshot for full/whole_table scopes, the removal set
          for file-scoped ops) -> :class:`ConcurrentDeleteReadError`.
        - winner deletion-vectored rows in files this txn read: same
          error -- a rewrite would resurrect those rows (its staged
          output predates the dv), a dv delete could double-delete.
        - winner carries the same app transaction id -> plain
          :class:`ConcurrentWriteError` (idempotence marker raced;
          the caller's last_txn_version re-check resolves it).
        - winner added files -> :class:`ConcurrentAppendError` when
          this txn asserts the whole table's final content
          (``read_scope="whole_table"``: overwrite/restore/
          repartition -- at either isolation level), or when it read
          the full table under ``isolation="serializable"``;
          write_serializable (the default, Delta's) accepts the
          serial order txn-then-append for predicate ops and rebases.
          File-scoped ops (compact) never conflict with adds.

        History needed for the check but already deleted by
        cleanup_log raises plain ConcurrentWriteError: safety cannot
        be proven, so the caller retries from fresh state."""
        try:
            st_base = self._state(base_version)
        except FileNotFoundError:
            raise ConcurrentWriteError(
                f"cannot verify conflicts: history at or below "
                f"v{base_version} was cleaned from the log; retry "
                "from fresh state"
            ) from None
        our_removes = set(entry.get("remove", []))
        read_set = (
            set(st_base["live"])
            if read_scope in ("full", "whole_table")
            else set(our_removes)
        )
        our_app = (entry.get("txn") or {}).get("app_id")
        d = self._log_dir()
        for v in range(base_version + 1, head + 1):
            try:
                e = self._read_entry(f"v{v:06d}.json")
            except FileNotFoundError:
                raise ConcurrentWriteError(
                    f"cannot verify conflicts: concurrent commit v{v} "
                    "was already cleaned from the log; retry from "
                    "fresh state"
                ) from None
            op = e.get("op", "?")
            alien = set(e.get("requires", [])) - _SUPPORTED_FEATURES
            if alien:
                raise UnsupportedTableFeatureError(
                    f"concurrent commit v{v} ({op}) requires table "
                    f"feature(s) {sorted(alien)} this build does not "
                    "implement; cannot prove commutativity"
                )
            if op in ("restore", "repartition"):
                raise MetadataChangedError(
                    f"concurrent {op} at v{v} rewrote the table's "
                    f"state under this transaction (snapshot "
                    f"v{base_version})"
                )
            for k in (
                "schema",
                "partition_by",
                "cluster_by",
                "constraints",
                "column_map",
                "dropped_physical",
            ):
                if k not in e:
                    continue
                # the winner commutes if its metadata matches EITHER
                # what this transaction read (the snapshot state) OR
                # what it is itself about to log (its own entry) --
                # e.g. two partitioned handles racing on a pre-spec
                # table both log the identical first spec, and an
                # evolve-merge racing a plain old-schema append read
                # exactly that old schema
                candidates = (st_base.get(k), entry.get(k, st_base.get(k)))
                if k == "schema":
                    # names + types only: nullability and field
                    # metadata legitimately flap between write paths
                    # (a parquet read through the logged schema comes
                    # back nullable), and neither invalidates staged
                    # file actions
                    ek = self._schema_key(e[k])
                    same = any(
                        ek == self._schema_key(c) for c in candidates
                    )
                else:
                    same = e[k] in candidates
                if not same:
                    raise MetadataChangedError(
                        f"concurrent commit v{v} ({op}) changed {k} "
                        f"under this transaction (snapshot "
                        f"v{base_version})"
                    )
            er = set(e.get("remove", []))
            both = er & our_removes
            if both:
                raise ConcurrentDeleteDeleteError(
                    f"concurrent commit v{v} ({op}) removed file(s) "
                    f"this transaction also removes (e.g. "
                    f"{sorted(both)[0]!r}; snapshot v{base_version})"
                )
            gone = er & read_set
            if gone:
                raise ConcurrentDeleteReadError(
                    f"concurrent commit v{v} ({op}) removed file(s) "
                    f"this transaction read (e.g. {sorted(gone)[0]!r}; "
                    f"snapshot v{base_version})"
                )
            dv_files: set[str] = set()
            for files in (e.get("dv_add") or {}).values():
                dv_files.update(files)
            dv_hit = dv_files & read_set
            if dv_hit:
                raise ConcurrentDeleteReadError(
                    f"concurrent commit v{v} ({op}) deletion-vectored "
                    f"rows in file(s) this transaction read (e.g. "
                    f"{sorted(dv_hit)[0]!r}; snapshot v{base_version})"
                )
            if e.get("dv_remove") and not er:
                # no legitimate op retires dvs without also removing
                # files (rewrites) or being a restore (caught above);
                # an unknown future op gets the conservative abort
                raise ConcurrentWriteError(
                    f"concurrent commit v{v} ({op}) retired deletion "
                    "vectors without a file rewrite; cannot prove "
                    "commutativity"
                )
            if our_app is not None and (
                (e.get("txn") or {}).get("app_id") == our_app
            ):
                raise ConcurrentWriteError(
                    f"concurrent commit v{v} carries the same app "
                    f"transaction id {our_app!r}: exactly-once cannot "
                    "be proven across a rebase; re-check "
                    "last_txn_version and retry"
                )
            if e.get("add") and (
                read_scope == "whole_table"
                or (
                    read_scope == "full"
                    and self.isolation == "serializable"
                )
            ):
                raise ConcurrentAppendError(
                    f"concurrent commit v{v} ({op}) added files "
                    + (
                        "this whole-table-replacing transaction "
                        "never saw"
                        if read_scope == "whole_table"
                        else f"a full-table read at snapshot "
                        f"v{base_version} would have seen "
                        "(isolation='serializable')"
                    )
                )
        return head

    # -- crash recovery ---------------------------------------------------

    def _recover(self, force: bool = False) -> None:
        """Make the filesystem agree with the log: complete any
        committed-but-unfinalized renames, then remove files and
        staging dirs the log does not reference.

        GATED PER OBSERVED VERSION: the walk below is O(table files)
        (an exists() per live file plus a full directory walk), which
        a 100 TB table cannot pay on every read.  Filesystem state
        needing recovery only ever arises from a commit -- publish
        ALWAYS precedes the finalize renames, so a peer that crashed
        mid-commit left a LOG ENTRY this handle sees as a version
        bump -- and a peer that crashed before publishing left only
        staging litter, invisible to both TxTable reads (explicit
        file lists) and plain parquet readers (it sits under
        ``_staging``), age-swept on the next real recovery.  Hence:
        same head version as last time on this handle => filesystem
        already reconciled, skip.  ``force=True`` is the operator
        escape hatch for OUT-OF-BAND tampering (manual file
        surgery): it runs the full pass regardless."""
        st = self._state()
        if st["version"] == 0:
            return
        if not force and st["version"] == getattr(
            self, "_recovered_version", None
        ):
            return
        # staging references of LIVE files/dvs only -- dead files'
        # staging is litter step 3 sweeps (the checkpointed state
        # prunes them, which is exactly the set recovery can act on)
        staged_of: dict[str, str] = dict(st["live"])
        staged_of.update(st["dv_staged"])
        live = set(st["live"])
        # 1. finish renames for live files still sitting in staging
        # (data files AND published-but-unmoved deletion vectors: a
        # crash between a dv commit's publish and finalize must not
        # resurrect the deleted rows)
        for rel in list(live) + list(st["dv_live"]):
            final = os.path.join(self.root, rel)
            if not os.path.exists(final):
                src = os.path.join(self.root, staged_of.get(rel, ""))
                if staged_of.get(rel) and os.path.exists(src):
                    os.makedirs(os.path.dirname(final), exist_ok=True)
                    self._move_into_place(src, final)
        # 2. retire data files the current version no longer references.
        # TOCTOU guard: a CONCURRENT writer may publish + finalize
        # between our log snapshot and this walk, so its fresh files
        # would look unreferenced against the stale ``live`` set.  Two
        # defenses: (a) re-read the log once right before retiring --
        # publish always precedes the rename into final position, so a
        # peer's finalized file is ALWAYS in a fresh log read; (b) a
        # file the log has never mentioned at all is only swept once
        # older than ``stale_staging_seconds`` (it could be a peer
        # racing between our fresh read and the unlink), while a file
        # the log PROVES superseded (added once, no longer live) is
        # crash debris and is retired immediately -- recovery must
        # restore the plain-parquet-read invariant without waiting.
        candidates = []
        for dirpath, dirnames, filenames in os.walk(self.root):
            rel_dir = os.path.relpath(dirpath, self.root)
            parts = [] if rel_dir == "." else rel_dir.split(os.sep)
            if any(p.startswith("_") or p.startswith(".") for p in parts):
                continue
            dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
            for name in filenames:
                if name.startswith((".", "_")):
                    continue
                rel = name if rel_dir == "." else os.path.join(rel_dir, name)
                if rel not in live:
                    candidates.append(rel)
        if candidates:
            import time as _time

            # rare path (a quiescent table has no candidates): one
            # full log read for the ever-logged set -- after
            # cleanup_log it is partial, and a pre-cutoff file merely
            # falls to the age guard instead of immediate retirement
            self._state_cache.clear()
            fresh_live = set(self._live_files())
            ever_logged = {
                f for e in self._entries() for f in e.get("add", [])
            }
            now = _time.time()
            for rel in candidates:
                if rel in fresh_live:
                    continue  # peer committed it since our snapshot
                if rel in ever_logged:
                    self._retire(rel)  # provably superseded
                    continue
                try:
                    age = now - os.path.getmtime(os.path.join(self.root, rel))
                except OSError:
                    continue  # vanished underneath us -- nothing to do
                if age >= self.stale_staging_seconds:
                    self._retire(rel)
        # 3. drop STALE staging dirs (every committed add was moved in
        # step 1; what's left is either a crashed transaction's litter
        # -- safe to drop once old -- or a CONCURRENT writer's live
        # staging, which an age guard protects: deleting it mid-write
        # would abort that writer's transaction for no reason)
        sdir = os.path.join(self.root, _STAGING_DIR)
        if os.path.isdir(sdir):
            import time as _time

            now = _time.time()
            for txn in os.listdir(sdir):
                p = os.path.join(sdir, txn)
                try:
                    age = now - os.path.getmtime(p)
                except OSError:
                    continue
                if age >= self.stale_staging_seconds:
                    shutil.rmtree(p, ignore_errors=True)
            try:
                os.rmdir(sdir)  # only succeeds when fully empty
            except OSError:
                pass
        #: reconciled-through marker for the version gate above (set
        #: only on completion: an exception re-runs recovery next call)
        self._recovered_version = st["version"]

    def _move_into_place(self, src: str, dst: str) -> None:
        """A finalize/recovery rename that tolerates the PEER having
        completed the same rename first.  Finalize and recovery are
        deliberately concurrent-idempotent: both drive <published
        entry -> filesystem agreement>, a writer's own finalize can
        race another handle's _recover() on the same commit (routine
        under multi-writer rebase traffic, not just crashes), and
        whichever loses an individual file must treat "source
        consumed, destination present" as success."""
        try:
            self.store.move(src, dst)
        except FileNotFoundError:
            if not os.path.exists(src) and os.path.exists(dst):
                return
            raise

    def _retire(self, rel: str) -> None:
        """Superseded file: archive (time travel) or delete.  A peer
        retiring the same file first (its recovery racing our
        finalize) is success, not an error -- the post-condition
        (name gone from the root) already holds."""
        p = os.path.join(self.root, rel)
        if self.retain_history:
            dst = os.path.join(self.root, _ARCHIVE_DIR, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            try:
                self.store.move(p, dst)
            except FileNotFoundError:
                if not os.path.exists(p) and os.path.exists(dst):
                    return
                raise
        else:
            try:
                self.store.delete(p)
            except FileNotFoundError:
                pass

    def _resolve(self, rel: str) -> str:
        """A logged file lives in the root while current, in _archive
        once superseded (retain_history)."""
        p = os.path.join(self.root, rel)
        if os.path.exists(p):
            return p
        archived = os.path.join(self.root, _ARCHIVE_DIR, rel)
        if os.path.exists(archived):
            return archived
        raise FileNotFoundError(
            f"{rel}: not in table or archive (vacuumed history?)"
        )

    # -- read -------------------------------------------------------------

    def _read_resolved(
        self,
        spark: SparkSession,
        rels: list[str],
        schema,
        dvs: "list[str] | None" = None,
        keep_pos: bool = False,
        cmap: "dict | None" = None,
        dv_for: "dict[str, list[str]] | None" = None,
    ) -> DataFrame:
        """Read a set of logged rels wherever they live NOW.  A
        time-travel or CDC read can legitimately mix still-live files
        (under the root) with superseded ones (under ``_archive``);
        one ``basePath`` cannot describe both (Spark raises
        CONFLICTING_DIRECTORY_STRUCTURES), so the paths group by
        resolution base and union -- partition columns infer
        identically in each group because the archive mirrors the
        hive layout.

        MIXED layouts also split -- by the exact SET of ``col=``
        components each path carries, NOT by the current spec.  Each
        group's partition values then come from wherever they actually
        are: current-spec files take them from the path; files of an
        OLD spec archived by :meth:`repartition_layout` take the old
        column from their path and the new one from their data (a
        time-travel or CDC read legitimately spans the layout change);
        flat pre-upgrade files (empty set) take everything from data.
        Classifying against the current spec instead would silently
        drop flat files from the scan (the r7-ADVICE invisibility
        bug) or NULL-fill the old partition column of archived
        old-layout snapshots.

        ``dvs`` is the set of live DELETION-VECTOR rels to subtract:
        each scan group derives its (file rel, row position) key from
        ``_metadata`` -- the rel as the path's trailing
        hive-components+filename segments (identical whether the file
        currently sits under the root or ``_archive/``), the position
        as the parquet ``row_index`` Spark generates for exactly this
        purpose (Delta's DV read path) -- and the union anti-joins the
        dv parquet ONCE.  Catalyst broadcasts the dv side when small
        (the sparse-delete case; AQE handles the rest), filters and
        projection still push into the scan, and a table with NO live
        dvs takes the zero-overhead original plan.  ``keep_pos=True``
        retains the two key columns on the output (the dv WRITER and
        CDC position reads need them).

        ``dv_for`` (dv rel -> the data-file rels its positions
        reference, recorded at dv-commit time) splits the scan PER
        FILE: only files a live dv actually touches pay the
        position-tracking projection and the anti-join; every CLEAN
        file keeps the zero-overhead plan.  At 100 TB one sparse
        takedown must not tax the whole table scan -- without the
        split the ``_metadata`` struct materializes and the join keys
        compute for every row of every file."""
        if dvs and not keep_pos and dv_for is not None:
            relset = set(rels)
            dvs = [
                d
                for d in dvs
                if not relset.isdisjoint(dv_for.get(d, ()))
            ] or None  # drop dvs referencing none of this scan's files
            touched: set[str] = set()
            for d in dvs or ():
                touched.update(dv_for.get(d, []))
            hit = [r for r in rels if r in touched]
            if dvs and len(hit) < len(rels):
                clean = [r for r in rels if r not in touched]
                return self._read_resolved(
                    spark, hit, schema, dvs=dvs, cmap=cmap
                ).unionByName(
                    self._read_resolved(spark, clean, schema, cmap=cmap)
                )
        if not rels:
            # make the empty-group invariant explicit instead of dying
            # as NoneType.select below: a typed empty frame when the
            # schema is known (callers that guard with ``if files`` no
            # longer have to), a loud error otherwise
            if schema is not None:
                return spark.createDataFrame([], schema)
            raise ValueError(
                f"_read_resolved at {self.root}: no files and no "
                "schema to type an empty frame with"
            )
        if cmap is None:
            cmap = self._column_map()
        phys_schema = schema
        if schema is not None and cmap:
            from pyspark.sql.types import StructField, StructType

            # the scan binds PHYSICAL names (what the footers carry);
            # the final projection below aliases back to logical
            phys_schema = StructType(
                [
                    StructField(cmap.get(f.name, f.name), f.dataType, True)
                    for f in schema.fields
                ]
            )
        track_pos = bool(dvs) or keep_pos
        if track_pos and schema is None:
            raise ValueError(
                f"_read_resolved at {self.root}: position tracking "
                "requires a logged schema (dv tables always log one)"
            )
        from pyspark.sql import functions as FF

        groups: dict[tuple[str, tuple[str, ...]], list[str]] = {}
        for rel in rels:
            p = self._resolve(rel)
            base = (
                self.root
                if p == os.path.join(self.root, rel)
                else os.path.join(self.root, _ARCHIVE_DIR)
            )
            colset = tuple(sorted(_path_partition_cols(rel)))
            groups.setdefault((base, colset), []).append(p)
        out: DataFrame | None = None
        for (base, colset), paths in sorted(groups.items()):
            reader = spark.read
            if colset:
                reader = reader.option("basePath", base)
            if phys_schema is not None:
                reader = reader.schema(phys_schema)
            df = reader.parquet(*sorted(paths))
            if track_pos:
                # the rel = the path's last (hive components + 1)
                # segments, constant per group; matches the logged rel
                # regardless of root/_archive residence
                depth = len(colset) + 1
                df = df.select(
                    "*",
                    FF.substring_index(
                        FF.col("_metadata.file_path"), "/", -depth
                    ).alias(_TXDV_FILE),
                    FF.col("_metadata.row_index").alias(_TXDV_POS),
                )
            out = df if out is None else out.unionByName(df)
        if dvs:
            out = out.join(
                self._read_dv_frame(spark, dvs),
                [_TXDV_FILE, _TXDV_POS],
                "left_anti",
            )
        if schema is not None:
            # Spark appends path-inferred partition columns at the END
            # regardless of the given schema, and WHICH columns those
            # are varies by group -- pin the logged order so two reads
            # over different layouts (changes()'s exceptAll diff sides,
            # as-of reads across repartition_layout) line up
            # positionally, not just by name.  Mapped columns alias
            # back from physical to LOGICAL here -- consumers only
            # ever see logical names
            sel = [
                FF.col(cmap.get(f.name, f.name)).alias(f.name)
                if cmap
                else FF.col(f.name)
                for f in schema.fields
            ]
            if keep_pos:
                sel += [FF.col(_TXDV_FILE), FF.col(_TXDV_POS)]
            out = out.select(*sel)
        return out

    def _read_dv_frame(self, spark: SparkSession, dv_rels: list[str]) -> DataFrame:
        """The (file rel, row position) pairs of a set of deletion
        vectors, as a DataFrame keyed to anti-join against a
        position-tracked scan.  Dv files never move (they retire by
        log ``dv_remove``, physically only via vacuum), so a missing
        one means vacuumed history."""
        paths = []
        for rel in sorted(dv_rels):
            p = os.path.join(self.root, rel)
            if not os.path.exists(p):
                raise FileNotFoundError(
                    f"{rel}: deletion vector missing at {self.root} "
                    "(vacuumed history?)"
                )
            paths.append(p)
        return spark.read.parquet(*paths)

    def version_at_timestamp(self, ts: float) -> int:
        """The newest committed version whose commit wall-clock is at
        or before ``ts`` (Delta's TIMESTAMP AS OF resolution rule).
        Walks entries newest-first reading only until the boundary --
        O(distance from head), which is O(1) for the common
        "yesterday's table" ask.  Raises for a timestamp older than
        the retained history (cleanup_log) or the first commit."""
        entry_names, _ = self._list_log()
        for name in reversed(entry_names):
            e = self._read_entry(name)
            if e.get("ts", 0.0) <= ts:
                return e["version"]
        raise FileNotFoundError(
            f"{self.root}: no retained commit at or before ts={ts} "
            "(before the first commit, pre-upgrade entries without a "
            "timestamp, or history removed by cleanup_log)"
        )

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        timestamp: "float | None" = None,
    ) -> DataFrame:
        """Current table, or -- with ``version`` / ``timestamp`` and
        ``retain_history=True`` -- the table exactly as of that
        committed version (partition columns included via basePath;
        a snapshot whose files now straddle the root and the archive
        reads correctly -- _read_resolved groups by base).
        ``timestamp`` (unix seconds) resolves to the newest commit at
        or before it, Delta's ``TIMESTAMP AS OF``.  Rows named by a
        deletion vector live at that version are subtracted (see
        :meth:`delete_where`; zero plan overhead when none exist)."""
        if timestamp is not None:
            if version is not None:
                raise ValueError("pass version or timestamp, not both")
            version = self.version_at_timestamp(timestamp)
        self._recover()
        st = self._state(version)
        files = list(st["live"])
        dvs = sorted(st["dv_live"])
        if not files:
            # A fully-deleted table is still a table: its schema rides
            # in the commit log (newest entry that recorded one), so
            # readers get a typed empty DataFrame, not an error --
            # parquet alone cannot express "zero files, known schema".
            import json as _json

            from pyspark.sql.types import StructType

            if "schema" in st:
                return spark.createDataFrame(
                    [], StructType.fromJson(_json.loads(st["schema"]))
                )
            raise FileNotFoundError(f"empty tx table at {self.root}")
        # read through the LOGGED schema (as of the requested version):
        # after add-column evolution the live files legitimately carry
        # mixed schemas, and an explicit schema makes older files
        # surface NULL for later columns instead of sampling one file's
        # footer and dropping the rest
        return self._read_resolved(
            spark,
            files,
            self.logged_schema(version),
            dvs=dvs,
            cmap=self._column_map(version),
            dv_for=st["dv_live"],
        )

    def history(self) -> list[dict]:
        """Commit audit trail, newest first: version, operation, and
        file-churn counts per commit (Delta's DESCRIBE HISTORY
        analog).  Pure log read -- no Spark job, no file IO beyond
        the entry list."""
        return [
            {
                "version": e["version"],
                "ts": e.get("ts"),
                "op": e.get("op", "?"),
                "files_added": len(e.get("add", [])),
                "files_removed": len(e.get("remove", [])),
                "dvs_added": len(e.get("dv_add", {})),
                "dvs_removed": len(e.get("dv_remove", [])),
                "rows_dv_deleted": e.get("dv_rows", 0),
                "partitions": sorted(
                    {os.path.dirname(f) for f in e.get("add", []) if os.sep in f}
                ),
            }
            for e in reversed(self._entries())
        ]

    def changes(
        self, spark: SparkSession, v_from: int, v_to: int | None = None
    ) -> DataFrame:
        """Row-level changes between two committed versions (Delta
        Change-Data-Feed analog): the table's rows as of ``v_to``
        minus as-of ``v_from`` tagged ``insert``, the reverse tagged
        ``delete``; an updated row appears as one delete + one insert.
        Requires ``retain_history=True`` so ``v_from``'s superseded
        files are still readable.

        Scale shape: rows in files UNTOUCHED between the versions
        cancel identically, so both diff sides scan only the files
        that were added or removed in (v_from, v_to] -- cost is
        O(changed partitions), never O(table).  The residual
        ``exceptAll`` is an exact multiset diff (duplicate rows
        handled), one shuffle over the changed subset.

        DELETION VECTORS change rows without changing file sets, so
        each diff side subtracts the dvs live AT ITS VERSION, and
        files live at BOTH endpoints contribute a position-level
        delta: rows at positions deleted in the window surface as
        ``delete``, positions un-deleted (a restore across a dv
        commit) as ``insert``.  The position sets themselves diff
        with ``exceptAll`` first, so delete-restore-redelete churn
        inside the window cancels exactly like file-level churn; the
        row fetch is then one position-keyed semi-join against only
        the common files the delta names -- still O(changed), never
        O(table)."""
        from pyspark.sql import functions as F

        self._recover()
        v_to = v_to if v_to is not None else self._snapshot_version()
        st_from, st_to = self._state(v_from), self._state(v_to)
        before = set(st_from["live"])
        after = set(st_to["live"])
        dv_before = st_from["dv_live"]
        dv_after = st_to["dv_live"]
        schema = self.logged_schema(v_to)

        def _read(rels: set[str], dvs: dict[str, list[str]]) -> DataFrame:
            if not rels:
                if schema is None:
                    raise FileNotFoundError("no logged schema for empty diff side")
                return spark.createDataFrame([], schema)
            # a diff side can mix live and archived files (e.g. after
            # a restore) -- group by resolution base like read().
            # Subtract only the dvs whose referenced files intersect
            # THIS side (dv_for, recorded at commit): a table carrying
            # many outstanding sparse deletes must not pay the whole
            # set on a small file-level diff.
            side_dvs = sorted(
                d for d, fr in dvs.items() if not rels.isdisjoint(fr)
            )
            # v_to's map reads BOTH sides: physical names are stable
            # across renames, so files of either era bind identically
            return self._read_resolved(
                spark, sorted(rels), schema, dvs=side_dvs,
                cmap=self._column_map(v_to), dv_for=dvs,
            )

        added = _read(after - before, dv_after)
        removed = _read(before - after, dv_before)
        inserts = added.exceptAll(removed).withColumn(
            "_change_type", F.lit("insert")
        )
        deletes = removed.exceptAll(added).withColumn(
            "_change_type", F.lit("delete")
        )
        out = inserts.unionByName(deletes)
        dv_new = sorted(set(dv_after) - set(dv_before))
        dv_gone = sorted(set(dv_before) - set(dv_after))
        common = after & before
        # scan only the common files the position delta actually
        # references (dv_for, recorded at dv-commit time) -- the delta
        # of a sparse delete names a handful of files, and scanning
        # all of ``common`` would silently regress to O(table)
        touched: set[str] = set()
        for rel in dv_new:
            touched.update(dv_after[rel])
        for rel in dv_gone:
            touched.update(dv_before[rel])
        scan_rels = sorted(touched & common)
        if scan_rels:
            empty_pos = spark.createDataFrame(
                [], f"{_TXDV_FILE} string, {_TXDV_POS} long"
            )
            new_pos = self._read_dv_frame(spark, dv_new) if dv_new else empty_pos
            gone_pos = self._read_dv_frame(spark, dv_gone) if dv_gone else empty_pos
            for pos, tag in (
                (new_pos.exceptAll(gone_pos), "delete"),
                (gone_pos.exceptAll(new_pos), "insert"),
            ):
                rows = (
                    self._read_resolved(spark, scan_rels, schema, keep_pos=True)
                    .join(pos, [_TXDV_FILE, _TXDV_POS], "left_semi")
                    .drop(_TXDV_FILE, _TXDV_POS)
                    .withColumn("_change_type", F.lit(tag))
                )
                out = out.unionByName(rows)
        return out

    def restore(self, version: int) -> int:
        """Delta RESTORE: roll the table back to a committed version
        AS A NEW COMMIT (history is never rewritten -- the rollback
        itself is auditable and revertible).  Requires
        ``retain_history=True`` so the target version's superseded
        files are still in ``_archive``; they are HARD-LINKED back
        into the root under their original names (byte-copied only on
        stores without links), so the archived names stay valid and
        time travel across the restore point keeps working.  Pure
        file-level operation -- no Spark job, O(files) metadata work,
        no data movement on a POSIX store."""
        self._recover()
        base_version = self._snapshot_version()
        if not (1 <= version <= base_version):
            raise ValueError(f"version {version} has never been committed")
        target = self._live_files(version=version)
        current = set(self._live_files(version=base_version))
        mapping: dict[str, str] = {}
        staging = os.path.join(self.root, _STAGING_DIR, uuid.uuid4().hex)
        for rel in target:
            if rel in current:
                continue  # still live: carried over by not removing it
            src = self._resolve(rel)
            # stage a copy under the ORIGINAL rel name: the root slot
            # is free (the file was superseded), and keeping the name
            # preserves bucket-id suffixes on cluster_by tables so
            # read_clustered keeps working across a restore
            staged_abs = os.path.join(staging, rel)
            os.makedirs(os.path.dirname(staged_abs), exist_ok=True)
            # O(files) metadata work, not O(bytes): a hard link where
            # the store has them (the commit path already links), a
            # byte copy only as the cross-device/object-store fallback
            # -- Delta's re-reference RESTORE, not a data rewrite
            self.store.link_or_copy(src, staged_abs)
            mapping[rel] = os.path.relpath(staged_abs, self.root)
        removes = sorted(current - set(target))
        # the dv set rolls back WITH the file set: rows deleted by a
        # dv after the target version resurrect, rows whose dv was
        # live at the target stay deleted.  Dv files never moved, so
        # this is pure log arithmetic -- re-adds only need the file to
        # still exist (vacuum may have dropped truly-dead history).
        dv_target = self._live_dvs(version=version)
        dv_now = self._live_dvs(version=base_version)
        dv_readd = {r: f for r, f in dv_target.items() if r not in dv_now}
        dv_drop = sorted(set(dv_now) - set(dv_target))
        for rel in dv_readd:
            if not os.path.exists(os.path.join(self.root, rel)):
                raise FileNotFoundError(
                    f"{rel}: deletion vector of v{version} missing "
                    "(vacuumed history?)"
                )
        schema = self.logged_schema(version)
        # the COLUMN MAP (and its drop tombstones) roll back with the
        # schema: restoring below a rename must not leave a stale
        # logical->physical entry behind -- a later evolve-add of that
        # logical name would consult the stale map and write into a
        # PHYSICAL name another column still owns (silent cross-column
        # corruption, pinned by test).  _commit logs an explicit empty
        # map when this rollback empties a live one.
        column_map = self._column_map(version)
        dropped_then = self._state(version).get("dropped_physical")
        dropped = None
        if dropped_then is not None or self._state().get(
            "dropped_physical"
        ) is not None:
            dropped = sorted(dropped_then or [])
        # restore the LAYOUT along with the data: the files being
        # re-staged carry the hive components of the spec as of the
        # target version, so the restore commit must both validate
        # against and re-log THAT spec -- restoring across a
        # repartition_layout otherwise trips the staged-hive assert,
        # and a restore to a pre-layout version must log [] so bare
        # handles stop inheriting the later layout.
        prior = (self._partition_by, self._partition_reconciled)
        spec_then = self._logged_partition_by(version)
        if spec_then is not None or self._logged_partition_by() is not None:
            self._partition_spec_logged = True
        self._partition_by = list(spec_then or [])
        self._partition_reconciled = True
        try:
            return self._commit(
                mapping,
                removes,
                "restore",
                base_version=base_version,
                dv_add=dv_readd,
                dv_remove=dv_drop,
                read_scope="whole_table",
                schema=schema.json() if schema is not None else None,
                column_map=column_map,
                dropped_physical=dropped,
            )
        except Exception:
            if not self._head_is_ours("restore", mapping):
                self._partition_by, self._partition_reconciled = prior
            raise

    def _head_is_ours(self, op: str, mapping: dict[str, str]) -> bool:
        """After a _commit raised: did OUR entry nonetheless publish
        (the failure was post-publish, e.g. in finalize -- a
        _recover()-able state)?  Decides whether in-memory layout
        state should roll back with the exception or stand with the
        published log."""
        entry_names, _ = self._list_log()
        if not entry_names:
            return False
        head = self._read_entry(entry_names[-1])
        return bool(
            head.get("op") == op and head.get("add") == sorted(mapping)
        )

    def vacuum(self, keep_versions: int = 0) -> int:
        """Drop archived history, with Delta-style RETENTION:
        ``keep_versions=k`` preserves every file some version in the
        trailing window [current-k, current] still references, so time
        travel within the window keeps working (and concurrent readers
        pinned to a recent snapshot don't lose their files);
        ``keep_versions=0`` drops all history.  The current version is
        never touched (a deletion vector the HEAD still replays is
        part of the current version and always survives).  Returns
        the number of files removed."""
        n = 0
        current = self._snapshot_version()

        def _live_at(v: int) -> list[str]:
            try:
                return list(self._state(v)["live"])
            except FileNotFoundError:
                # history below a cleanup_log cutoff: unreachable by
                # any read, so it pins nothing
                return []

        adir = os.path.join(self.root, _ARCHIVE_DIR)
        if os.path.isdir(adir):
            if keep_versions <= 0:
                for dirpath, _, filenames in os.walk(adir):
                    n += len(filenames)
                shutil.rmtree(adir)
            else:
                needed: set[str] = set()
                for v in range(max(1, current - keep_versions), current + 1):
                    needed.update(_live_at(v))
                for dirpath, _, filenames in os.walk(adir, topdown=False):
                    for name in filenames:
                        p = os.path.join(dirpath, name)
                        rel = os.path.relpath(p, adir)
                        if rel not in needed:
                            self.store.delete(p)
                            n += 1
                    try:
                        os.rmdir(dirpath)  # only succeeds when emptied
                    except OSError:
                        pass
        # deletion vectors follow the same retention rule: keep every
        # dv that some retained version's live set replays
        dv_dir = os.path.join(self.root, _DV_DIR)
        if os.path.isdir(dv_dir):
            needed_dv = set(self._live_dvs())
            for v in range(
                max(1, current - max(0, keep_versions)), current + 1
            ):
                try:
                    needed_dv.update(self._state(v)["dv_live"])
                except FileNotFoundError:
                    pass  # cleaned history pins nothing
            for name in os.listdir(dv_dir):
                if os.path.join(_DV_DIR, name) not in needed_dv:
                    self.store.delete(os.path.join(dv_dir, name))
                    n += 1
            try:
                os.rmdir(dv_dir)  # only succeeds when emptied
            except OSError:
                pass
        return n

    # -- write paths ------------------------------------------------------

    def cluster_spec(self) -> tuple[list[str], list[str], int] | None:
        """The effective cluster-by spec: the constructor's, or the
        newest one recorded in the commit log (so a handle opened
        without the argument still writes/reads clustered)."""
        if self._cluster_by is not None:
            return self._cluster_by
        c = self._state().get("cluster_by")
        if c is not None:
            self._cluster_by = (
                list(c["bucket_cols"]),
                list(c["sort_cols"]),
                int(c["n_buckets"]),
            )
        return self._cluster_by

    def constraint_spec(self) -> dict[str, str] | None:
        """Effective CHECK constraints: the constructor's, or the
        newest set recorded in the commit log."""
        if self._constraints is not None:
            return self._constraints
        c = self._state().get("constraints")
        if c is not None:
            self._constraints = dict(c)
        return self._constraints

    def _check_constraints(self, df: DataFrame) -> None:
        """Raise on the first row violating any CHECK constraint --
        one bounded job (limit-1 over the OR of violations), run
        before anything stages so a failed write leaves no litter.
        A constraint referencing columns the incoming frame does not
        carry is skipped for that write (merge_update instead
        validates the post-join MERGED rows, where every column is
        present -- see there)."""
        spec = self.constraint_spec()
        if not spec:
            return
        from pyspark.sql import functions as FF

        fails = []
        for name, expr in sorted(spec.items()):
            try:
                df.select(FF.expr(expr))  # resolvable against this frame?
            except Exception:  # noqa: BLE001 -- unresolvable -> skip
                continue
            fails.append(
                FF.when(FF.expr(expr) == False, FF.lit(name))  # noqa: E712
            )
        if not fails:
            return
        viol = (
            df.select(FF.array_compact(FF.array(*fails)).alias("__viol"))
            .where(FF.size("__viol") > 0)
            .limit(1)
            .collect()
        )
        if viol:
            raise ValueError(
                f"CHECK constraint violated: {list(viol[0]['__viol'])}"
            )

    def _column_map(self, version: "int | None" = None) -> dict:
        """logical column name -> PHYSICAL parquet column name, as of
        ``version`` (Delta's column mapping, name mode).  Only
        non-identity entries are stored; {} means no mapping.
        Physical names are STABLE across renames -- a rename is one
        metadata commit that re-points the logical name, no file is
        touched -- which is also why as-of reads and CDC diffs across
        a rename boundary stay cheap: every file, whatever its era,
        is read through the same physical name."""
        try:
            return dict(self._state(version).get("column_map") or {})
        except FileNotFoundError:
            return {}

    def _to_physical(self, df: DataFrame, column_map) -> DataFrame:
        """Project a LOGICAL frame to PHYSICAL column names for
        staging through ``column_map`` (default: the head map).  All
        writes pass through here, so every file on disk uniformly uses
        physical names and one table-wide map suffices (no per-file
        metadata).  Identity when no mapping exists -- zero overhead
        for unmapped tables."""
        cmap = self._column_map() if column_map is _UNSET else column_map
        if not cmap:
            return df
        return df.select(
            *[F_col(c).alias(cmap.get(c, c)) for c in df.columns]
        )

    def _stage(
        self, df: DataFrame, column_map=_UNSET
    ) -> tuple[dict[str, str], str]:
        """Write df into _staging/<txn>/ and return (mapping of
        final-relative-path -> staged-relative-path, df's schema json
        for the commit to log).  The staged files carry PHYSICAL
        column names (see :meth:`_to_physical`); the logged schema
        stays LOGICAL."""
        txn = uuid.uuid4().hex
        staging = os.path.join(self.root, _STAGING_DIR, txn)
        spec = self.cluster_spec()
        if spec is not None:
            self._stage_clustered(df, staging, spec)
        else:
            phys = self._to_physical(df, column_map)
            writer = phys.write.mode("overwrite")
            if self.partition_by:
                # partition columns are never mapped (rename refuses
                # them), so the hive components keep logical names
                writer = writer.partitionBy(*self.partition_by)
            writer.parquet(staging)
        mapping: dict[str, str] = {}
        for dirpath, _, filenames in os.walk(staging):
            for name in filenames:
                if name.startswith((".", "_")) or not name.endswith(".parquet"):
                    continue
                staged_rel = os.path.relpath(os.path.join(dirpath, name), self.root)
                part_rel = os.path.relpath(dirpath, staging)
                if spec is not None:
                    # bucket id rides in the filename (part-...-_NNNNN.
                    # ...); keep the basename so the bucketed catalog
                    # scan can map files to buckets.  Spark's write
                    # UUIDs keep names unique across commits.
                    final_name = name
                else:
                    final_name = f"part-{txn[:8]}-{len(mapping):05d}.parquet"
                final_rel = (
                    final_name
                    if part_rel == "."
                    else os.path.join(part_rel, final_name)
                )
                mapping[final_rel] = staged_rel
        return mapping, df.schema.json()

    def _stage_clustered(
        self, df: DataFrame, staging: str, spec: tuple[list[str], list[str], int]
    ) -> None:
        """Stage a bucketed+sorted layout.  Spark only writes bucket
        metadata through the catalog, so the staging write rides a
        throwaway EXTERNAL table definition (dropped immediately --
        the files stay).  ``repartition(n_buckets, bucket_cols)`` uses
        the same murmur3-pmod hash as the bucket assignment, so each
        task holds exactly one bucket's rows -> ONE file per bucket
        per rewrite, which is what lets the read side claim sorted
        output."""
        bucket_cols, sort_cols, n_buckets = spec
        spark = df.sparkSession
        tmp = f"__txstage_{uuid.uuid4().hex[:12]}"
        (
            df.repartition(n_buckets, *bucket_cols)
            .write.format("parquet")
            .mode("overwrite")
            .option("path", staging)
            .bucketBy(n_buckets, *bucket_cols)
            .sortBy(*sort_cols)
            .saveAsTable(tmp)
        )
        spark.sql(f"DROP TABLE `{tmp}`")  # external: files remain

    def read_clustered(self, spark: SparkSession, name: str | None = None) -> DataFrame:
        """The table as a BUCKETED catalog scan: Catalyst trusts the
        layout's hash partitioning (and, when every bucket is a single
        file, its sort order), so joins/aggregations/windows on the
        bucket columns plan without an Exchange and -- right after a
        write/compact, before small appends accumulate -- without a
        Sort.  Appends add files per bucket (ordering claim drops,
        partitioning claim stays); ``compact()`` restores the
        one-file-per-bucket sorted layout.

        SESSION-LEVEL SIDE EFFECTS (both reversed by
        :meth:`drop_clustered` when the handle is done): (1) sets
        ``spark.sql.legacy.bucketedTableScan.outputOrdering=true`` and
        leaves it set -- planning is LAZY, so restoring it here would
        silently drop the no-Sort claim for any downstream query
        planned after this call returns; it also affects other
        bucketed scans in the session (they gain a planning-time file
        listing, bounded by their file counts).  (2) registers a
        catalog table (md5-of-root name by default) pointing at the
        table directory; Spark's catalog cannot express a TEMPORARY
        bucketed table, so the entry persists until dropped."""
        spec = self.cluster_spec()
        if spec is None:
            raise ValueError("read_clustered requires a cluster_by spec")
        bucket_cols, sort_cols, n_buckets = spec
        self._recover()
        conf_key = "spark.sql.legacy.bucketedTableScan.outputOrdering"
        prior = spark.conf.get(conf_key, None)
        if prior != "true" and self._prior_bucket_conf is _UNSET:
            self._prior_bucket_conf = prior
        spark.conf.set(conf_key, "true")
        schema = self.logged_schema()
        if schema is None:
            raise FileNotFoundError(f"no logged schema at {self.root}")
        import hashlib

        name = name or "txc_" + hashlib.md5(self.root.encode()).hexdigest()[:10]
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
        )
        spark.sql(f"DROP TABLE IF EXISTS `{name}`")
        spark.sql(
            f"CREATE TABLE `{name}` ({cols}) USING PARQUET "
            f"CLUSTERED BY ({', '.join(f'`{c}`' for c in bucket_cols)}) "
            f"SORTED BY ({', '.join(f'`{c}`' for c in sort_cols)}) "
            f"INTO {n_buckets} BUCKETS "
            f"LOCATION '{self.root}'"
        )
        self._clustered_names.add(name)
        return spark.table(f"`{name}`")

    def drop_clustered(self, spark: SparkSession) -> None:
        """Undo :meth:`read_clustered`'s session side effects: drop
        every catalog entry this handle registered (so no dangling
        table outlives the directory) and restore the bucketed-scan
        ordering conf to its pre-read value when this handle was the
        one to flip it.  Call when done with the clustered scans --
        any DataFrame already PLANNED stays valid; unplanned ones
        lose the catalog table they reference."""
        for name in sorted(self._clustered_names):
            spark.sql(f"DROP TABLE IF EXISTS `{name}`")
        self._clustered_names.clear()
        if self._prior_bucket_conf is not _UNSET:
            conf_key = "spark.sql.legacy.bucketedTableScan.outputOrdering"
            if self._prior_bucket_conf is None:
                spark.conf.unset(conf_key)
            else:
                spark.conf.set(conf_key, self._prior_bucket_conf)
            self._prior_bucket_conf = _UNSET

    def _finalize(
        self,
        mapping: dict[str, str],
        removes: list[str],
        staged_dv: "dict[str, str] | None" = None,
        dv_drop: "list[str] | None" = None,
    ) -> None:
        for final_rel, staged_rel in mapping.items():
            final = os.path.join(self.root, final_rel)
            os.makedirs(os.path.dirname(final), exist_ok=True)
            self._move_into_place(os.path.join(self.root, staged_rel), final)
        for final_rel, staged_rel in (staged_dv or {}).items():
            final = os.path.join(self.root, final_rel)
            os.makedirs(os.path.dirname(final), exist_ok=True)
            self._move_into_place(os.path.join(self.root, staged_rel), final)
        for rel in removes:
            if os.path.exists(os.path.join(self.root, rel)):
                self._retire(rel)
        if dv_drop and not self.retain_history:
            # dv files retired from the live set are pure history; a
            # no-history table deletes them eagerly like _retire does
            # data files (retain_history keeps them in place -- as-of
            # reads replay them, and they never move, so there is no
            # archive step)
            for rel in dv_drop:
                p = os.path.join(self.root, rel)
                try:
                    if os.path.exists(p):
                        self.store.delete(p)
                except FileNotFoundError:
                    pass  # a peer's recovery dropped it first
        # clean up THIS transaction's staging dirs only (a peer's live
        # staging under the same table must not be touched)
        own_txn_dirs = set()
        for staged_rel in list(mapping.values()) + list((staged_dv or {}).values()):
            parts = staged_rel.split(os.sep)
            if len(parts) >= 2 and parts[0] == _STAGING_DIR:
                own_txn_dirs.add(os.path.join(self.root, parts[0], parts[1]))
        for d in own_txn_dirs:
            shutil.rmtree(d, ignore_errors=True)
        sdir = os.path.join(self.root, _STAGING_DIR)
        try:
            os.rmdir(sdir)  # only succeeds when fully empty
        except OSError:
            pass

    def _file_stats(self, mapping: dict[str, str]) -> dict[str, dict]:
        """Per-file column min/max harvested from the STAGED parquet
        footers (pyarrow metadata only -- no data pages read) and
        recorded in the commit entry, Delta's data-skipping stats.
        Bounded by files-per-commit x columns; runs on the driver
        before the commit point.  Only JSON-faithful primitive types
        are recorded (int/float/bool/str) -- temporal and nested
        columns are skipped and therefore never pruned on."""
        try:
            import pyarrow.parquet as pq
        except ImportError:  # pragma: no cover
            return {}
        out: dict[str, dict] = {}
        for final_rel, staged_rel in mapping.items():
            path = os.path.join(self.root, staged_rel)
            try:
                meta = pq.ParquetFile(path).metadata
            except Exception:  # noqa: BLE001 -- stats are best-effort
                continue
            cols: dict[str, list] = {}
            for rg in range(meta.num_row_groups):
                row_group = meta.row_group(rg)
                for ci in range(row_group.num_columns):
                    cc = row_group.column(ci)
                    st = cc.statistics
                    if st is None or not st.has_min_max:
                        continue
                    name = cc.path_in_schema
                    if "." in name:  # nested leaf -- skip
                        continue
                    mn, mx = st.min, st.max
                    if isinstance(mn, bytes) or isinstance(mx, bytes):
                        try:
                            mn, mx = mn.decode(), mx.decode()
                        except Exception:  # noqa: BLE001
                            continue
                    if not isinstance(mn, (int, float, bool, str)):
                        continue
                    if name in cols:
                        cols[name][0] = min(cols[name][0], mn)
                        cols[name][1] = max(cols[name][1], mx)
                    else:
                        cols[name] = [mn, mx]
            if cols:
                out[final_rel] = cols
        return out

    def pruned_files(self, col: str, lo, hi) -> list[str]:
        """The live files whose logged [min, max] for ``col`` can
        intersect [lo, hi] -- pure log arithmetic, no file IO.  Files
        committed without stats for ``col`` are kept (conservative:
        pruning may only skip provably-disjoint files)."""
        st = self._state()
        stats = st["stats"]
        # footer-harvested stats are keyed by PHYSICAL column names
        phys = (st.get("column_map") or {}).get(col, col)
        keep = []
        for f in st["live"]:
            cs = stats.get(f, {}).get(phys)
            if cs is None or not (cs[1] < lo or cs[0] > hi):
                keep.append(f)
        return keep

    def read_pruned(
        self, spark: SparkSession, col: str, lo, hi
    ) -> DataFrame:
        """Range scan that skips files the commit-log stats prove
        disjoint from [lo, hi] BEFORE any footer is opened -- the
        IVF-probe strict-file-subset contract applied to arbitrary
        columns.  The exact predicate is still applied (stats bound
        files, not rows), so results equal
        ``read().where(lo <= col <= hi)``."""
        self._recover()
        files = [self._resolve(f) for f in self.pruned_files(col, lo, hi)]
        if not files:
            empty = self.read(spark).where("1=0")
            return empty.where(
                (F_col(col) >= lo) & (F_col(col) <= hi)
            )
        return self._read_files(spark, files).where(
            (F_col(col) >= lo) & (F_col(col) <= hi)
        )

    @staticmethod
    def _prune_spec(col, values) -> "dict[str, list]":
        """Normalize the two pruning call forms -- ``(col, values)``
        and ``({col: values, ...})`` -- to one dict."""
        if isinstance(col, dict):
            if values is not None:
                raise ValueError(
                    "pass either a single (col, values) pair or one "
                    "dict of col -> values, not both"
                )
            if not col:
                raise ValueError("empty pruning spec")
            return {c: list(v) for c, v in col.items()}
        if values is None:
            raise ValueError(
                "missing values: call as (col, values) for one column "
                "or ({col: values, ...}) for a conjunction"
            )
        return {col: list(values)}

    def partition_files(self, col, values=None) -> list[str]:
        """The live files whose hive partition directories match --
        pure path arithmetic on the log, no file IO, no Spark job (the
        partition-column analog of :meth:`pruned_files`).  Two call
        forms: ``partition_files("ym", [..])`` for one column, or a
        CONJUNCTION over several partition columns,
        ``partition_files({"source": [..], "fp_pfx": [..]})`` -- a
        file survives only if EVERY named column's path value is in
        that column's value set, so a (source, fp_pfx)-layout table
        prunes on both axes.  Values compare as their unescaped string
        form (``str(v)``), which is exact for the int/hex-string
        partition keys this repo partitions on; ``None`` matches the
        hive NULL sentinel."""
        spec = self._prune_spec(col, values)
        for c in spec:
            if c not in self.partition_by:
                raise ValueError(
                    f"{c!r} is not a partition column of {self.root} "
                    f"(partition_by={self.partition_by})"
                )
        from urllib.parse import unquote

        want = {
            c: {None if v is None else str(v) for v in vals}
            for c, vals in spec.items()
        }
        keep = []
        unpartitioned = []
        for rel in self._live_files():
            comps = rel.split(os.sep)[:-1]
            vals: dict[str, str | None] = {}
            for comp in comps:
                if "=" in comp:
                    name, raw = comp.split("=", 1)
                    vals[name] = (
                        None
                        if raw == "__HIVE_DEFAULT_PARTITION__"
                        else unquote(raw)
                    )
            if not all(c in vals for c in spec):
                unpartitioned.append(rel)
            elif all(vals[c] in want[c] for c in spec):
                keep.append(rel)
        if unpartitioned:
            # a live file missing ANY spec'd col= path component holds
            # rows of unknown partition value (e.g. written by a
            # pre-upgrade bare handle before the spec was
            # log-persisted).  Skipping it would silently drop rows
            # from the claimed read().where(...) equivalence -- refuse
            # instead; read_partitions catches this and falls back to
            # a full scan, and repartition_layout rewrites the table
            # clean.
            raise MixedPartitionLayoutError(
                f"{len(unpartitioned)} live file(s) at {self.root} lack "
                f"the {sorted(spec)} path component(s) (e.g. "
                f"{unpartitioned[0]!r}); partition pruning would "
                f"silently miss their rows"
            )
        return keep

    def read_partitions(self, spark: SparkSession, col, values=None) -> DataFrame:
        """Partition-pruned scan: only the files under matching
        ``col=value`` directories are ever listed or opened -- the
        ivf_probe strict-file-subset contract applied to TxTable
        partition columns.  Accepts the same two call forms as
        :meth:`partition_files` (single column, or a dict conjunction
        over several).  Results equal ``read().where(...)`` with the
        conjunction of per-column isin predicates; the residual
        predicate is NOT re-applied because hive partition dirs are
        exact, not min/max bounds.  An empty match returns a typed
        empty frame through the logged schema, like :meth:`read` on a
        fully-deleted table.

        Mixed layouts degrade, never lie: if any live file lacks a
        spec'd ``col=`` component (:class:`MixedPartitionLayoutError`),
        the claimed equivalence cannot be met by path pruning, so this
        falls back to the FULL scan plus the exact predicate --
        correct on every layout, merely unpruned -- and warns so the
        operator knows :meth:`repartition_layout` is due."""
        self._recover()
        try:
            files = self.partition_files(col, values)
        except MixedPartitionLayoutError as exc:
            import warnings

            warnings.warn(
                f"read_partitions({col!r}) fell back to a full scan: "
                f"{exc}",
                stacklevel=2,
            )
            cond = None
            for c, vlist in self._prune_spec(col, values).items():
                vals = [v for v in vlist if v is not None]
                c_cond = F_col(c).isin(vals) if vals else F_lit(False)
                if any(v is None for v in vlist):
                    c_cond = c_cond | F_col(c).isNull()
                cond = c_cond if cond is None else (cond & c_cond)
            return self.read(spark).where(cond)
        schema = self.logged_schema()
        if not files:
            if schema is None:
                raise FileNotFoundError(f"no logged schema at {self.root}")
            return spark.createDataFrame([], schema)
        live_dvs = self._live_dvs()
        return self._read_resolved(
            spark, files, schema, dvs=sorted(live_dvs), dv_for=live_dvs
        )

    def _inert_dvs(self, removes: list[str]) -> list[str]:
        """Live deletion vectors whose referenced data files will ALL
        be dead once ``removes`` retire -- pure log arithmetic.  A
        rewrite that replaces a dv'd file materializes its deletions
        (the rewrite read subtracts dvs), so the dv is pure dead
        weight afterwards; dropping it from the live set keeps every
        future read's anti-join sized by OUTSTANDING deletes, not by
        delete history.  Physical deletion stays with vacuum/retention
        (older versions still replay the dv)."""
        remaining = set(self._live_files()) - set(removes)
        return sorted(
            rel
            for rel, dv_for in self._live_dvs().items()
            if not (set(dv_for) & remaining)
        )

    def _commit(
        self,
        mapping: dict[str, str],
        removes: list[str],
        op: str,
        base_version: int | None = None,
        app_txn: "tuple[str, int] | None" = None,
        dv_add: "dict[str, list[str]] | None" = None,
        staged_dv: "dict[str, str] | None" = None,
        dv_rows: "int | None" = None,
        dv_remove: "list[str] | None" = None,
        read_scope: str = "files",
        schema: "str | None" = None,
        column_map=_UNSET,
        dropped_physical: "list[str] | None" = None,
    ) -> int:
        """Publish one entry and finalize it.  Metadata arrives as
        arguments, never as handle state: ``schema`` (None logs none --
        a dv delete stages no data), ``column_map`` the files were
        staged through (default: the head map) and the
        ``dropped_physical`` tombstones (None logs none)."""
        entry = {
            "op": op,
            "add": sorted(mapping),
            "remove": sorted(removes),
            "staged": mapping,
        }
        if dv_add is None and dv_remove is None and removes:
            # data-file rewrites retire the dvs they made inert (the
            # caller that manages dvs explicitly -- restore, the dv
            # delete itself -- passes its own sets and skips this)
            dv_remove = self._inert_dvs(removes) or None
        if dv_add:
            entry["dv_add"] = {r: sorted(f) for r, f in sorted(dv_add.items())}
            if dv_rows is not None:
                entry["dv_rows"] = int(dv_rows)
        if staged_dv:
            entry["staged_dv"] = staged_dv
        if dv_remove:
            entry["dv_remove"] = sorted(dv_remove)
        requires = set()
        if dv_add or staged_dv or dv_remove:
            requires.add("deletion-vectors")
        cmap_explicit = column_map is not _UNSET
        cmap_entry = column_map if cmap_explicit else self._column_map()
        if cmap_explicit and not cmap_entry and self._column_map():
            # a rename back to the physical name emptied the map:
            # the commit must log the EXPLICIT empty map or the fold
            # keeps the stale one forever
            entry["column_map"] = {}
        if cmap_entry:
            # rides every commit once non-empty (like partition_by) so
            # the newest entry always states the live map and blind
            # writers can be conflict-checked against it; readers
            # without the feature must refuse (silently reading
            # physical names would NULL every renamed column)
            entry["column_map"] = dict(sorted(cmap_entry.items()))
            requires.add("column-mapping")
        if dropped_physical is not None:
            entry["dropped_physical"] = sorted(dropped_physical)
        if app_txn is not None:
            entry["txn"] = {"app_id": app_txn[0], "version": int(app_txn[1])}
        stats = self._file_stats(mapping)
        if stats:
            entry["stats"] = stats
        if schema is not None:
            entry["schema"] = schema
        spec = self.cluster_spec()
        if spec is not None:
            if entry.get("column_map"):
                # read_clustered hands Spark the raw files as a catalog
                # bucketed scan -- it cannot carry the physical->logical
                # aliasing, so the two features are mutually exclusive
                # (rename_column refuses clustered tables from the
                # other side)
                raise ValueError(
                    f"{self.root}: cluster_by and column mapping are "
                    "mutually exclusive"
                )
            if self._live_dvs():
                # read_clustered hands Spark the raw files as a catalog
                # bucketed scan -- it cannot carry the dv anti-join, so
                # the two features are mutually exclusive (same rule as
                # _dv_delete's refusal, enforced from the other side:
                # a constructor-clustered handle over a dv'd table)
                raise ValueError(
                    f"{self.root} has live deletion vectors; cluster_by "
                    "requires materializing them first (compact())"
                )
            entry["cluster_by"] = {
                "bucket_cols": spec[0],
                "sort_cols": spec[1],
                "n_buckets": spec[2],
            }
            # conservative reader stamp: plain row reads of a
            # clustered table are correct without the feature, but
            # read_clustered's zero-Exchange claim is semantic for
            # its consumers, so the table opts into the guard
            requires.add("cluster-by")
        pb = self.partition_by
        if pb or self._partition_spec_logged:
            # persisted like cluster_by so bare handles inherit the
            # layout (re-logged even when EMPTY once a spec has ever
            # been recorded -- e.g. after a restore to a pre-layout
            # version -- so the newest entry always states the true
            # current layout); also assert the staged files actually
            # carry the hive components, so a write path that ignored
            # partitionBy can never publish layout-invisible files.
            entry["partition_by"] = list(pb)
            for rel in mapping:
                comps = rel.split(os.sep)[:-1]
                for c in pb:
                    if not any(p.startswith(c + "=") for p in comps):
                        raise ValueError(
                            f"staged file {rel!r} lacks the {c}= hive "
                            f"component required by partition_by="
                            f"{pb}"
                        )
        cons = self.constraint_spec()
        if cons:
            entry["constraints"] = cons
        if requires:
            # Delta's protocol action as named features: readers
            # outside this set must refuse the fold (see
            # UnsupportedTableFeatureError)
            entry["requires"] = sorted(requires)
        version = self._publish(
            entry, base_version=base_version, read_scope=read_scope
        )
        self._finalize(
            mapping,
            removes,
            staged_dv=staged_dv,
            dv_drop=entry.get("dv_remove"),
        )
        self._maybe_checkpoint(version)
        return version

    def _snapshot_version(self, entries: "list[dict] | None" = None) -> int:
        """Head of the log; pass pre-parsed ``entries`` to avoid a
        second log scan (the byte-paced stream planner does).  The
        no-argument form is ONE directory listing -- no entry reads."""
        if entries is not None:
            return entries[-1]["version"] if entries else 0
        entry_names, ckpt_names = self._list_log()
        head = self._entry_version(entry_names[-1]) if entry_names else 0
        if ckpt_names:
            head = max(head, self._ckpt_version(ckpt_names[-1]))
        return head

    def _raise_if_concurrent(self, exc: Exception, base_version: int):
        """Surface a mid-transaction read failure caused by a
        CONCURRENT commit as ConcurrentWriteError: the winner's
        finalize step deletes/archives files this transaction's
        snapshot still references, so the loser can die with a
        vanished-file error while staging -- before ever reaching the
        version check at publish.  That is the same stale-snapshot
        condition (Delta's ConcurrentDeleteReadException analog), so
        callers get ONE retryable exception type either way.

        Translation requires THREE pieces of evidence, not just a
        message substring: (1) the failure looks like a vanished file
        (typed Spark/Py4J analysis or IO error classes when
        available, message markers otherwise), (2) the log advanced
        past this transaction's snapshot, and (3) at least one file
        that was live at the snapshot version is actually gone from
        its root path -- i.e. a concurrent finalize really did retire
        a file this plan was reading.  An unrelated error that merely
        CONTAINS 'does not exist' while an unrelated append advanced
        the version re-raises untranslated, so retry loops never spin
        on a genuinely broken operation."""
        looks_vanished = False
        try:  # typed classification where the runtime exposes it
            from pyspark.errors import AnalysisException as _AE

            if isinstance(exc, (_AE, FileNotFoundError)):
                looks_vanished = True
        except ImportError:
            pass
        try:
            from py4j.protocol import Py4JJavaError as _PJE

            if isinstance(exc, _PJE):
                jcls = exc.java_exception.getClass().getName()
                if "FileNotFound" in jcls or "NoSuchFile" in jcls:
                    looks_vanished = True
        except Exception:  # noqa: BLE001 -- classification is best-effort
            pass
        msg = str(exc)
        if any(
            s in msg
            for s in (
                "FileNotFoundException",
                "PATH_NOT_FOUND",
                "does not exist",
                "No such file",
            )
        ):
            looks_vanished = True
        if looks_vanished and self._snapshot_version() != base_version:
            snapshot_files = self._live_files(version=base_version)
            gone = [
                f
                for f in snapshot_files
                if not os.path.exists(os.path.join(self.root, f))
            ]
            if gone:
                raise ConcurrentWriteError(
                    f"snapshot v{base_version} invalidated while staging: a "
                    "concurrent commit removed files this transaction was "
                    f"reading (e.g. {gone[0]})"
                ) from exc
        raise exc

    def logged_schema(self, version: int | None = None):
        """Latest schema recorded in the commit log (as of
        ``version``), or None for a pre-schema-logging table."""
        import json as _json

        from pyspark.sql.types import StructType

        s = self._state(version).get("schema")
        return StructType.fromJson(_json.loads(s)) if s is not None else None

    def _evolve(
        self, df: DataFrame, version: "int | None" = None
    ) -> "tuple[DataFrame, object]":
        """ADD-COLUMN schema evolution (Delta mergeSchema's safe
        subset): align ``df`` to stored-columns-then-new-columns
        order, NULL-filling stored columns the batch lacks, and return
        it with the column map to stage and commit through (``_UNSET``
        -- the head map -- unless a new column needs a fresh physical
        name).  ``version`` pins the schema and map to a rewrite's
        snapshot.  Type CHANGES are rejected loudly -- silent
        cross-version casts are how a table format corrupts data."""
        from pyspark.sql import functions as F

        stored = self.logged_schema(version)
        if stored is None:
            return df, _UNSET
        by_name = {f.name: f for f in df.schema.fields}
        cols = []
        for f in stored.fields:
            g = by_name.pop(f.name, None)
            if g is None:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
            elif g.dataType != f.dataType:
                raise ValueError(
                    f"schema evolution cannot change column {f.name!r} from "
                    f"{f.dataType.simpleString()} to {g.dataType.simpleString()}"
                )
            else:
                cols.append(F.col(f.name))
        cols += [F.col(n) for n in by_name]  # new columns appended
        column_map = _UNSET
        if by_name:
            # a NEW logical name must not collide with a PHYSICAL name
            # already present in existing files -- either one occupied
            # by another logical column (post-rename) or one left
            # behind by drop_column.  Binding it by identity would
            # resurrect the old bytes into the new column; a fresh
            # physical name makes old files read NULL for it, which is
            # what "new column" means.
            st = self._state(version)
            cmap = dict(st.get("column_map") or {})
            taken = set(st.get("dropped_physical") or [])
            taken |= {cmap.get(f.name, f.name) for f in stored.fields}
            for n in by_name:
                if n in taken:
                    cmap[n] = f"{n}__{uuid.uuid4().hex[:8]}"
                    column_map = cmap
        return df.select(*cols), column_map

    def last_txn_version(self, app_id: str) -> "int | None":
        """Latest application transaction version committed under
        ``app_id`` (Delta's SetTransaction / ``txnAppId``+``txnVersion``
        idempotent-writes analog): commits made with ``app_txn=(app_id,
        v)`` record v in the log; a batch-id-aware sink no-ops any
        replayed micro-batch whose id is <= this.  Pure log read."""
        return self._state()["txn"].get(app_id)

    def init(
        self, df: DataFrame, app_txn: "tuple[str, int] | None" = None
    ) -> int:
        """Create the table from df (version 1)."""
        self._check_constraints(df)
        mapping, schema = self._stage(df)
        return self._commit(
            mapping, [], "init", app_txn=app_txn, schema=schema
        )

    def append(
        self,
        df: DataFrame,
        evolve_schema: bool = False,
        app_txn: "tuple[str, int] | None" = None,
    ) -> int:
        """Blind append (S7 chunked-INSERT analog): new files only,
        nothing rewritten, nothing removed.  ``evolve_schema=True``
        allows the batch to ADD columns (older rows read back NULL for
        them) and to omit stored columns (NULL-filled); the logged
        schema advances with the commit and reads use it, so mixed
        file schemas stay readable.  ``app_txn=(app_id, version)``
        records an application transaction for batch-id-aware
        idempotent streaming sinks (see :meth:`last_txn_version`),
        same contract as :meth:`init`/:meth:`overwrite`.

        SCHEMA ENFORCEMENT (Delta's): a plain append must match the
        logged schema by name and type -- column order may differ
        (realigned here), but missing, extra, or retyped columns
        raise instead of silently re-logging a stale or widened
        schema.  ``evolve_schema=True`` is the sanctioned widen/omit
        path; the commit point re-checks against the NEWEST logged
        schema so a concurrent evolution cannot be regressed by a
        stale handle racing it (see :meth:`_assert_schema_advances`).
        Consequently an append racing a concurrent schema /
        partition / cluster / column-map / drop-column commit may
        raise a retryable :class:`ConcurrentWriteError` subclass
        (typically :class:`MetadataChangedError`) instead of silently
        bumping past it -- retry from a fresh handle."""
        self._recover()
        column_map = _UNSET
        if evolve_schema:
            df, column_map = self._evolve(df)
        else:
            logged = self.logged_schema()
            if logged is not None:
                want = self._schema_fields(logged.json())
                have = self._schema_fields(df.schema.json())
                if want != have:
                    missing = sorted(set(want) - set(have))
                    extra = sorted(set(have) - set(want))
                    retyped = sorted(
                        n
                        for n in set(want) & set(have)
                        if want[n] != have[n]
                    )
                    raise ValueError(
                        f"append schema mismatch at {self.root}: "
                        f"missing={missing} extra={extra} "
                        f"retyped={retyped}; pass evolve_schema=True "
                        "for add/omit-column evolution, or re-open "
                        "the handle if its view is stale"
                    )
                order = [f.name for f in logged.fields]
                if [f.name for f in df.schema.fields] != order:
                    df = df.select(*[F_col(c) for c in order])
        self._check_constraints(df)
        mapping, schema = self._stage(df, column_map)
        return self._commit(
            mapping, [], "append", app_txn=app_txn, schema=schema,
            column_map=column_map,
        )

    def _partition_rel(self, row) -> str:
        # NULL partition values use Spark's hive-compatible sentinel
        return os.path.join(
            *[
                f"{c}={'__HIVE_DEFAULT_PARTITION__' if row[c] is None else row[c]}"
                for c in self.partition_by
            ]
        )

    def _rewrite(
        self,
        op: str,
        plan,
        read_scope: str = "files",
        app_txn: "tuple[str, int] | None" = None,
        undo=None,
    ) -> "int | None":
        """THE read-modify-write transaction: recover, ONE snapshot,
        ``plan(base_version)`` -> ``(removes, frame, column_map)`` or
        None (nothing to do: no commit, returns None), pin ``frame``
        (it may read the very files finalize retires; a frame already
        locally checkpointed is its own pin, see :func:`_pinned`),
        stage, commit against the snapshot.  Every
        read ``plan`` makes -- schema and column map included -- pins
        to that version or runs after it: a pair torn across two
        versions could rebase past a concurrent append and publish,
        and metadata read BEFORE the snapshot would let a concurrent
        drop/rename land unchecked below it.  A staging
        failure a concurrent commit caused surfaces as
        ConcurrentWriteError.  ``undo`` reverts handle state ``plan``
        changed unless OUR entry published (a post-publish finalize
        failure is _recover()-able and the log then states the new
        value)."""
        self._recover()
        base_version = self._snapshot_version()
        try:
            planned = plan(base_version)
            if planned is None:
                return None
            removes, frame, column_map = planned
            mapping, schema = self._stage(_pinned(frame), column_map)
        except Exception as e:  # noqa: BLE001 -- translated or re-raised
            if undo is not None:
                undo()
            self._raise_if_concurrent(e, base_version)
        try:
            return self._commit(
                mapping, removes, op, base_version=base_version,
                app_txn=app_txn, read_scope=read_scope, schema=schema,
                column_map=column_map,
            )
        except Exception:
            if undo is not None and not self._head_is_ours(op, mapping):
                undo()
            raise

    def _scope(
        self,
        spark: SparkSession,
        version: int,
        touched,
        keep,
        source: "DataFrame | None" = None,
        column_map=_UNSET,
    ) -> "tuple | None":
        """The :meth:`_rewrite` plan of a partition-scoped op at
        snapshot ``version``: ``(removes, keep(base), column_map)``
        where ``removes``/``base`` are the whole live set when
        unpartitioned, else the partitions holding the
        ``touched(current)`` rows plus, for merge, ``source``'s own
        (no files there: an empty base).  None when nothing is touched
        -- otherwise _scoped_removes would fold in every mixed-layout
        flat file and a no-op would pay a migration rewrite and a
        commit (migration belongs to repartition_layout)."""
        current = self.read(spark, version=version)
        if not self.partition_by:
            removes, base = list(self._live_files(version=version)), current
        else:
            rels = {
                self._partition_rel(r)
                for frame in (source, touched(current)) if frame is not None
                for r in frame.select(*self.partition_by).distinct().collect()
            }
            if not rels:
                return None
            removes = self._scoped_removes(rels, version=version)
            base = (
                self._read_files(spark, removes, version=version)
                if removes
                else current.where("1=0")
            )
        return removes, keep(base), column_map

    def overwrite(
        self, df: DataFrame, app_txn: "tuple[str, int] | None" = None
    ) -> int:
        """Replace the whole table's contents in one atomic commit
        (the full-refresh analog of the reference's MV rebuild,
        refresh_intersections_highestcrashes.py:39-57 -- but readable
        throughout, no drop/recreate window).  ``df`` MAY read from
        this very table (read-transform-overwrite): the rows are
        pinned with a localCheckpoint before any file is touched.
        Optimistic concurrency like merge/delete: raises
        :class:`ConcurrentWriteError` if another commit lands first.
        ``app_txn=(app_id, version)`` records an application
        transaction in the commit entry for idempotent sinks (see
        :meth:`last_txn_version`)."""
        self._check_constraints(df)

        def plan(v):
            # a whole-set replace may change the schema in any
            # direction (test_txtable_schema_enforce), so the COLUMN
            # MAP must be reconciled with the replacing schema exactly
            # as restore reconciles it with the as-of schema: entries
            # whose logical name the new schema drops are pruned
            # (retained entries keep writing through their stable
            # physical names).  A stale entry would otherwise survive
            # the replace and a later rename/evolve-add consulting it
            # could bind a physical name another live column owns --
            # the silent cross-column corruption class.  _commit logs
            # an explicit empty map when the prune empties a live one.
            cmap, keep = self._column_map(v), set(df.columns)
            return list(self._live_files(version=v)), df, (
                {k: p for k, p in cmap.items() if k in keep} if cmap else _UNSET
            )

        return self._rewrite(
            "overwrite", plan, read_scope="whole_table", app_txn=app_txn
        )

    def merge(self, source: DataFrame, key: str, evolve_schema: bool = False) -> int:
        """Delta-style MERGE: matched rows are replaced by the source
        row, unmatched source rows are inserted.  Only the partitions
        present in the source are rewritten; every other partition's
        files carry over untouched.  ``evolve_schema=True`` allows
        add-column evolution exactly as in :meth:`append`."""
        spark = source.sparkSession

        def plan(v):
            # evolve after the snapshot (see _rewrite)
            src, column_map = (
                self._evolve(source, v) if evolve_schema else (source, _UNSET)
            )
            self._check_constraints(src)
            src_keys = src.select(key).where(src[key].isNotNull()).distinct()
            # Touched = source partitions UNION partitions currently
            # holding a matched key.  The second set is what Delta's
            # find-touched-files join computes; without it a source
            # row whose partition value CHANGED would insert into the
            # new partition while the stale row survives in the old
            # one (caught by the hypothesis model test).  Cost is one
            # semi-join keyed scan -- O(matches), not O(table
            # rewrite) -- and the rewrite stays partition-scoped.
            return self._scope(
                spark, v,
                lambda cur: cur.join(src_keys, on=key, how="left_semi"),
                lambda base: base.join(
                    src_keys, on=key, how="left_anti"
                ).unionByName(src, allowMissingColumns=evolve_schema),
                source=src, column_map=column_map,
            )

        return self._rewrite(
            "merge", plan, read_scope="full"
        ) or self._snapshot_version()

    def _read_files(
        self,
        spark: SparkSession,
        paths: list[str],
        version: "int | None" = None,
    ) -> DataFrame:
        """Read an explicit file subset through the LOGGED schema,
        exactly as :meth:`read` does.  ``version`` pins the schema
        and live-dv lookups to the caller's snapshot so a rewrite's
        inputs are consistent with the base_version its commit
        validates against (an RMW must never mix state from two
        versions -- the torn pair could REBASE past a commuting
        concurrent append and publish).  After add-column evolution the
        touched-partition files legitimately carry mixed schemas; a
        bare ``spark.read.parquet`` samples ONE footer, so sampling a
        narrow pre-evolution file would silently NULL evolved columns
        in a merge/delete rewrite and regress the logged table schema
        with the commit.  Layout handling (flat / old-spec / current
        hive files) delegates to :meth:`_read_resolved` -- ONE copy of
        the silent-drop-hazard classification."""
        root = self.root + os.sep
        rels = [p[len(root):] if p.startswith(root) else p for p in paths]
        live_dvs = self._live_dvs(version=version)
        return self._read_resolved(
            spark,
            rels,
            self.logged_schema(version),
            # rewrites read the CURRENT rows of the files they replace:
            # without the live-dv subtraction a merge/compact of a file
            # carrying deletion vectors would resurrect its deleted
            # rows into the rewrite
            dvs=sorted(live_dvs),
            cmap=self._column_map(version),
            dv_for=live_dvs,
        )

    def _scoped_removes(
        self, touched_rels, version: "int | None" = None
    ) -> list[str]:
        """The rewrite set of a partition-scoped RMW: live files under
        the touched partition directories, PLUS every live file whose
        path does not carry the FULL current layout.  A flat or
        old-layout file holds rows of unknown partition value -- the
        scoped rewrite cannot prove it untouched, so it folds into the
        rewrite (degrade-don't-lie, the rewrite-side counterpart of
        :meth:`read_partitions`' full-scan fallback; as a side effect
        the rewrite migrates such files into the clean layout).
        Without this, a merge/delete on a mixed-layout table would
        silently keep doomed/stale rows living in flat files."""
        pb = set(self.partition_by)
        prefixes = tuple(t + os.sep for t in sorted(touched_rels))
        return [
            f
            for f in self._live_files(version=version)
            if f.startswith(prefixes) or not pb <= _path_partition_cols(f)
        ]

    def merge_update(
        self,
        source: DataFrame,
        key: str,
        set_cols: list[str],
        condition=None,
    ) -> int:
        """UPDATE ... FROM directly on the table format (the
        reference's S9/J11 shape, ``UPDATE t SET col = s.col FROM s
        WHERE t.key = s.key [AND cond]``, main.py:637-640, 944-960 --
        but as one atomic partition-scoped commit instead of 1 q/s
        row loops).  Matched rows take ``set_cols`` from the source
        when ``condition`` (a Column over the joined row; source
        columns reachable as ``__src_<col>``) holds; every other
        column keeps its value; UNMATCHED SOURCE ROWS ARE IGNORED --
        this is UPDATE semantics, not :meth:`merge`'s upsert.  Only
        partitions holding matched keys rewrite."""
        from pyspark.sql import functions as FF

        spark = source.sparkSession
        src_keys = source.select(key).where(source[key].isNotNull()).distinct()

        def update(base):
            src = source.select(
                FF.col(key).alias("__src_key"),
                *[
                    FF.col(c).alias(f"__src_{c}")
                    for c in source.columns
                    if c != key
                ],
            )
            joined = base.join(
                src, base[key] == src["__src_key"], "left"
            )
            matched = FF.col("__src_key").isNotNull()
            gate = matched if condition is None else (matched & condition)
            proj = [
                (
                    FF.when(gate, FF.col(f"__src_{c}"))
                    .otherwise(FF.col(c))
                    .alias(c)
                    if c in set_cols
                    else FF.col(c)
                )
                for c in base.columns
            ]
            # CHECK constraints validate the MERGED RESULT, and only
            # the rows this update actually touches: an unmatched or
            # condition-false source row that would never apply cannot
            # abort the commit, and a constraint spanning a set_col
            # and an untouched column sees the full post-update row.
            self._check_constraints(joined.where(gate).select(*proj))
            return joined.select(*proj)

        return self._rewrite(
            "merge_update",
            lambda v: self._scope(
                spark, v,
                lambda cur: cur.join(src_keys, on=key, how="left_semi"),
                update,
            ),
            read_scope="full",
        ) or self._snapshot_version()

    def _column_change_guard(self, name: str) -> "tuple":
        """Shared validation for rename/drop: the logged schema (must
        exist and contain ``name``), the current map, and refusals for
        columns whose NAME is load-bearing elsewhere -- partition
        columns (hive path components), cluster columns (bucketed
        catalog scan), constraint expressions (SQL over logical
        names), and dv-reserved names."""
        import re as _re

        schema = self.logged_schema()
        if schema is None:
            raise ValueError(f"{self.root}: no logged schema")
        if name not in {f.name for f in schema.fields}:
            raise ValueError(f"{self.root}: no column {name!r}")
        if name in self.partition_by:
            raise ValueError(
                f"{name!r} is a partition column; change the layout "
                "with repartition_layout first"
            )
        spec = self.cluster_spec()
        if spec is not None:
            raise ValueError(
                "column changes are not supported on cluster_by "
                "tables: read_clustered scans raw files and cannot "
                "alias physical names"
            )
        for cname, expr in (self.constraint_spec() or {}).items():
            if _re.search(rf"\b{_re.escape(name)}\b", expr):
                raise ValueError(
                    f"column {name!r} is referenced by CHECK "
                    f"constraint {cname!r} ({expr}); drop or rewrite "
                    "the constraint first"
                )
        return schema, self._column_map()

    def rename_column(self, old: str, new: str) -> int:
        """RENAME COLUMN without touching a single data file (Delta's
        column mapping, name mode): one metadata commit re-points the
        logical name at the column's stable PHYSICAL name.  On a
        100 TB corpus this is the difference between an O(1) log write
        and an O(table) rewrite.  Every read path aliases physical ->
        logical (:meth:`_read_resolved`), every write projects
        logical -> physical (:meth:`_to_physical`), and time travel /
        CDC across the rename stay exact because the physical name
        never changes.  Commits on mapped tables stamp the
        ``column-mapping`` table feature, so a build without the
        aliasing refuses the table instead of silently NULLing the
        renamed column.  Refused for partition / cluster /
        constraint-referenced columns and reserved names; concurrent
        writers conflict via the ``column_map``/``schema`` metadata
        rules (a racing blind append aborts and retries, a racing RMW
        rebases only if it saw this map)."""
        import json as _json

        from pyspark.sql.types import StructField, StructType

        self._recover()
        base_version = self._snapshot_version()
        schema, cmap = self._column_change_guard(old)
        names = {f.name for f in schema.fields}
        if new in names:
            raise ValueError(f"{self.root}: column {new!r} already exists")
        if new in (_TXDV_FILE, _TXDV_POS):
            raise ValueError(f"{new!r} is a reserved column name")
        new_fields = [
            StructField(new, f.dataType, f.nullable, f.metadata)
            if f.name == old
            else f
            for f in schema.fields
        ]
        cmap.pop(old, None)
        phys = self._column_map().get(old, old)
        if phys != new:  # renaming back to the physical name IS identity
            cmap[new] = phys
        return self._commit(
            {}, [], "rename_column", base_version=base_version,
            schema=StructType(new_fields).json(), column_map=cmap,
        )

    def drop_column(self, name: str) -> int:
        """DROP COLUMN without rewriting data (Delta column mapping):
        one metadata commit removes the field from the logical schema;
        the bytes stay in the files, unread.  The column's PHYSICAL
        name is tombstoned so a later add-column evolution reusing the
        logical name binds a FRESH physical name instead of
        resurrecting the dropped bytes (pinned by test).  Same
        refusals and concurrency rules as :meth:`rename_column`."""
        from pyspark.sql.types import StructType

        self._recover()
        base_version = self._snapshot_version()
        schema, cmap = self._column_change_guard(name)
        if len(schema.fields) == 1:
            raise ValueError(f"cannot drop the only column {name!r}")
        phys = cmap.pop(name, name)
        return self._commit(
            {}, [], "drop_column", base_version=base_version,
            schema=StructType(
                [f for f in schema.fields if f.name != name]
            ).json(),
            column_map=cmap,
            dropped_physical=sorted(
                set(self._state().get("dropped_physical") or []) | {phys}
            ),
        )

    def compact(
        self,
        spark: SparkSession,
        target_mb: int = 128,
        zorder_by: tuple[str, str] | None = None,
        zorder_bits: int = 16,
        n_files: int | None = None,
    ) -> int:
        """Transactional OPTIMIZE: rewrite the table's storage into
        ~target_mb files, contents unchanged (the VACUUM FULL analog,
        main.py:1105-1107 -- but as one atomic commit, readable
        throughout, instead of the delete-then-rename window of a
        directory swap).  Incremental merges bloat tables with many
        small appended files; this is the periodic repair.

        ``zorder_by=(x_col, y_col)`` is OPTIMIZE ZORDER: the rewrite
        range-partitions on the Morton z-value of the two columns and
        sorts within partitions, so parquet footer min/max prune scans
        on EITHER column afterwards (operators/zorder.py; the same
        layout Delta/Iceberg build for multi-dimension data skipping).
        Rows and schema are unchanged -- the scratch z column is
        dropped before staging."""

        def plan(v):
            removes = list(self._live_files(version=v))
            current = self.read(spark, version=v)
            if self.cluster_spec() is not None:
                # clustered tables have ONE layout: the staged write
                # re-buckets/re-sorts, restoring one file per bucket
                # (which is what re-arms the sorted-scan claim small
                # appends dropped)
                if zorder_by is not None:
                    raise ValueError(
                        "zorder_by conflicts with the table's cluster_by spec"
                    )
                return removes, current, _UNSET
            n = n_files
            if n is None:
                total_bytes = sum(
                    os.path.getsize(os.path.join(self.root, f)) for f in removes
                )
                n = max(1, round(total_bytes / (target_mb * 1024 * 1024)))
            if zorder_by is None:
                return removes, current.repartition(n), _UNSET
            from nyc_crash_mapper_etl_script_spark.operators.zorder import (
                zorder_value,
            )

            x_col, y_col = zorder_by
            return removes, (
                zorder_value(current, x_col, y_col, zorder_bits)
                .repartitionByRange(n, "zv")
                .sortWithinPartitions("zv")
                .drop("zv")
            ), _UNSET

        return self._rewrite("compact", plan)

    def commits_since_rewrite(self) -> int:
        """Commits since the last whole-table rewrite (init / compact /
        compact_small / overwrite / repartition) -- the auto-compaction
        policy's trigger counter: head minus the state's
        ``last_rewrite_version``.  O(tail since the last checkpoint)
        like every state read, and -- because the rewrite version
        rides the state and thus checkpoints -- immune to
        ``cleanup_log`` deleting the rewrite's own entry (a retention
        window smaller than the compaction cadence would otherwise
        cap the counter below the threshold and starve the policy
        forever).  A table whose visible history never recorded a
        rewrite (pre-upgrade checkpoint) counts from zero --
        conservative: the policy fires once and self-heals."""
        st = self._state()
        return st["version"] - st.get("last_rewrite_version", 0)

    def compact_small(
        self,
        spark: SparkSession,
        target_mb: float = 128,
        small_mb: float = 32,
    ) -> "int | None":
        """INCREMENTAL OPTIMIZE (Delta's bin-packing OPTIMIZE, minus
        zorder): rewrite only the live files SMALLER than ``small_mb``
        into ~``target_mb`` files, leaving well-sized files untouched
        -- contents unchanged, one atomic commit.  This is the
        steady-state repair for append-per-micro-batch tables: cost is
        O(small-file bytes) per run, never O(table), which is what a
        100 TB corpus accumulating one small file per trigger needs
        (:meth:`compact` rewrites everything and stays the full-repair
        / re-layout tool).  On a partitioned table the merged rows are
        re-hashed on the partition columns so each touched partition
        gets ~one merged file; flat pre-upgrade files below the
        threshold migrate into the hive layout as a side effect
        (mixed-layout rows stay reachable either way --
        :meth:`_read_files` handles the classification).  Returns the
        committed version, or None when fewer than two small files
        exist (nothing to merge -- no commit, no churn).  Optimistic
        concurrency like merge/delete.  Not applicable to cluster_by
        tables (bucket files merge only via the full :meth:`compact`,
        which re-buckets)."""
        if self.cluster_spec() is not None:
            raise ValueError(
                "compact_small cannot preserve a cluster_by bucket "
                "layout; use compact() (it re-buckets and re-sorts)"
            )

        def plan(v):
            sizes = {
                f: os.path.getsize(os.path.join(self.root, f))
                for f in self._live_files(version=v)
            }
            small = [
                f for f, s in sizes.items() if s < small_mb * 1024 * 1024
            ]
            if len(small) < 2:
                return None
            base = self._read_files(spark, small, version=v)
            if self.partition_by:
                # ~one merged file per touched partition value: the
                # staged partitionBy write splits by value, so one
                # hash task per value is the minimal-file layout
                return sorted(small), base.repartition(
                    *[F_col(c) for c in self.partition_by]
                ), _UNSET
            total = sum(sizes[f] for f in small)
            n_files = max(1, round(total / (target_mb * 1024 * 1024)))
            return sorted(small), base.repartition(n_files), _UNSET

        return self._rewrite("compact_small", plan)

    def compact_if_due(
        self,
        spark: SparkSession,
        every_n_commits: "int | None",
        target_mb: float = 128,
        small_mb: float = 32,
    ) -> "int | None":
        """The opt-in auto-compaction policy for long-running writers
        (Delta's optimize-after-N-commits analog): when at least
        ``every_n_commits`` commits have landed since the last
        whole-table rewrite, run :meth:`compact_small`.  Streaming
        sinks call this after their per-batch commit, so a pipeline
        left running for days keeps a bounded live-file count with no
        operator intervention.  Content-neutral and log-serialized
        with the caller's own commits (the sink is the table's only
        writer), so it needs no app_txn of its own: a crash between
        the data commit and the compaction just defers the compaction
        to a later batch.  ``None``/``<=0`` disables; returns the
        compaction's version or None when not due / nothing to
        merge."""
        if not every_n_commits or every_n_commits <= 0:
            return None
        if self.commits_since_rewrite() < every_n_commits:
            return None
        return self.compact_small(spark, target_mb=target_mb, small_mb=small_mb)

    def repartition_layout(
        self, spark: SparkSession, partition_by: list[str]
    ) -> int:
        """Rewrite the whole table into a clean hive layout
        partitioned by ``partition_by``, in ONE atomic commit, rows
        and schema unchanged -- the sanctioned migration for tables
        whose live files predate the log-persisted spec (the
        :class:`MixedPartitionLayoutError` repair, and the only way
        to CHANGE a logged layout: the ``partition_by`` setter
        refuses contradictions precisely so layout changes go through
        this audited full rewrite).  After the commit every live file
        carries the ``col=`` components, :meth:`partition_files`
        prunes again, and bare handles inherit the new spec from the
        log.  O(table) by nature (every row moves directories) --
        run it like compact(): once, off the hot path.  Optimistic
        concurrency like merge/delete.

        ``partition_by=[]`` FLATTENS the table: files rewrite without
        hive components and the commit logs the empty spec, so bare
        handles stop inheriting the old layout -- the sanctioned path
        the ``partition_by`` setter's fail-loud error points at (the
        only other way to an empty spec is restore() to a pre-layout
        version)."""
        partition_by = list(partition_by)
        if self.cluster_spec() is not None:
            raise ValueError(
                "cluster_by and partition_by are mutually exclusive: "
                f"{self.root} has a cluster spec {self.cluster_spec()}"
            )
        prior = (self._partition_by, self._partition_reconciled)

        def plan(v):
            removes = list(self._live_files(version=v))
            current = self.read(spark, version=v)
            # bypass the setter: contradicting the logged spec is the
            # point here, and the commit re-logs the new one as the
            # newest (inherited-by-all) entry.  A FLATTEN must log the
            # explicit empty spec (same rule as restore-to-
            # pre-layout), so mark a spec as ever-logged whenever one
            # was -- _commit writes [] only under that flag.
            if self._logged_partition_by() is not None:
                self._partition_spec_logged = True
            self._partition_by = partition_by
            self._partition_reconciled = True
            return removes, current, _UNSET

        def undo():
            # a failed rewrite must not leave this handle believing the
            # NEW spec while the log still says the old one -- a caller
            # that catches and falls back to append() would persist
            # the contradictory layout without the audited rewrite
            self._partition_by, self._partition_reconciled = prior

        return self._rewrite(
            "repartition", plan, read_scope="whole_table", undo=undo
        )

    def _dv_delete(self, spark: SparkSession, select_doomed) -> int:
        """The DELETION-VECTOR write path shared by
        :meth:`delete_where` / :meth:`delete` with ``dv=True``
        (Delta's deletion-vector DELETE): instead of rewriting every
        file that holds a doomed row, record the doomed rows' (file,
        position) pairs as a parquet sidecar under ``_dv/`` and log it
        -- every subsequent read subtracts them.  Write cost is
        O(deleted rows), never O(touched-file bytes): deleting 0.01%
        of a 100 TB corpus (a PII takedown, a licensing retraction)
        writes megabytes where the rewrite path would churn terabytes.
        The read-side cost is one anti-join against the OUTSTANDING
        dv rows (broadcast-sized for sparse deletes; rewrites retire
        dvs they make inert, and compact() materializes everything it
        rewrites, so the set never grows monotonically).

        ``select_doomed`` filters the current position-tracked frame
        to the rows to delete.  Same optimistic concurrency as the
        rewrite path: positions are computed against a snapshot, and
        ANY concurrent commit (a compact moving rows between files
        invalidates positions) aborts with ConcurrentWriteError.
        Refused on cluster_by tables: ``read_clustered`` hands Spark
        the raw files as a catalog bucketed scan, which cannot carry
        the anti-join."""
        self._recover()
        if self.cluster_spec() is not None:
            raise ValueError(
                "deletion vectors are not supported on cluster_by "
                "tables: read_clustered scans the raw files and would "
                "resurrect deleted rows; use the rewrite delete"
            )
        # ONE snapshot: positions must come from exactly the state
        # _rebase validates against, never from a newer head
        base_version = self._snapshot_version()
        schema = self.logged_schema(base_version)
        if schema is not None and (
            {_TXDV_FILE, _TXDV_POS} & {f.name for f in schema.fields}
        ):
            raise ValueError(
                f"table schema uses reserved column name(s) "
                f"{_TXDV_FILE!r}/{_TXDV_POS!r}"
            )
        st = self._state(base_version)
        files = list(st["live"])
        if not files:
            return base_version
        dvs = sorted(st["dv_live"])
        txn = uuid.uuid4().hex
        staging = os.path.join(self.root, _STAGING_DIR, txn)
        try:
            current = self._read_resolved(
                spark, files, schema, dvs=dvs, keep_pos=True,
                cmap=self._column_map(base_version),
            )
            # pin the doomed positions before anything else runs: the
            # distinct-file collect and the staged write must see one
            # snapshot
            doomed = (
                select_doomed(current)
                .select(_TXDV_FILE, _TXDV_POS)
                .localCheckpoint()
            )
            touched = [r[_TXDV_FILE] for r in
                       doomed.select(_TXDV_FILE).distinct().collect()]
            if not touched:
                return base_version
            unknown = set(touched) - set(files)
            if unknown:
                # the path-derived rel must round-trip to the logged
                # rel (true for the int/hex/date partition values this
                # repo uses); exotic values that URI-escape differently
                # must use the rewrite delete
                raise ValueError(
                    f"dv delete at {self.root}: derived file rel(s) "
                    f"{sorted(unknown)[:3]} not in the live set -- "
                    "partition values do not round-trip through the "
                    "scan path; use the rewrite delete"
                )
            n_doomed = doomed.count()
            # one small shuffle keyed by file: AQE coalesces a sparse
            # delete to ~one dv file while a huge one stays parallel
            doomed.repartition(F_col(_TXDV_FILE)).write.mode(
                "overwrite"
            ).parquet(staging)
        except Exception as e:  # noqa: BLE001 -- translated or re-raised
            shutil.rmtree(staging, ignore_errors=True)
            self._raise_if_concurrent(e, base_version)
        staged_dv: dict[str, str] = {}
        i = 0
        for dirpath, _, filenames in os.walk(staging):
            for name in sorted(filenames):
                if name.startswith((".", "_")) or not name.endswith(".parquet"):
                    continue
                final_rel = os.path.join(_DV_DIR, f"{txn}-{i:05d}.parquet")
                staged_dv[final_rel] = os.path.relpath(
                    os.path.join(dirpath, name), self.root
                )
                i += 1
        return self._commit(
            {},
            [],
            "delete_dv",
            base_version=base_version,
            dv_add={rel: sorted(touched) for rel in staged_dv},
            staged_dv=staged_dv,
            dv_rows=n_doomed,
            read_scope="full",
        )

    def delete_where(self, spark: SparkSession, condition, dv: bool = False) -> int:
        """Predicate DELETE (Delta's ``DELETE FROM t WHERE cond``):
        rewrite only the partitions that hold a matching row, keeping
        their non-matching rows; partitions with no match carry over
        untouched.  ``condition`` is a Column over the table's rows.
        The doomed-partition probe is one filtered scan collecting
        DISTINCT partition values -- partition-dimension sized.

        ``dv=True`` records the doomed rows as a DELETION VECTOR
        instead of rewriting any file -- O(deleted rows) write cost,
        the sparse-delete path at scale (see :meth:`_dv_delete`)."""
        if dv:
            return self._dv_delete(spark, lambda cur: cur.where(condition))
        from pyspark.sql import functions as FF

        return self._rewrite(
            "delete_where",
            lambda v: self._scope(
                spark, v, lambda cur: cur.where(condition),
                # SQL DELETE semantics: a NULL condition KEEPS the row
                # (only provably-TRUE rows die), so negate through a
                # coalesce -- a bare ~condition would delete NULLs too
                lambda base: base.where(~FF.coalesce(condition, FF.lit(False))),
            ),
            read_scope="full",
        ) or self._snapshot_version()

    def delete(self, keys: DataFrame, key: str, dv: bool = False) -> int:
        """DELETE-by-key (S10): rewrite only the partitions holding
        doomed rows.  ``dv=True`` records a deletion vector instead of
        rewriting (one left-semi join to find the doomed positions --
        the by-key form of :meth:`_dv_delete`'s sparse-delete path)."""
        spark = keys.sparkSession
        ks = keys.select(key).distinct()
        if dv:
            return self._dv_delete(
                spark, lambda cur: cur.join(ks, key, "left_semi")
            )

        return self._rewrite(
            "delete",
            lambda v: self._scope(
                spark, v, lambda cur: cur.join(ks, key, "left_semi"),
                lambda base: base.join(ks, key, "left_anti"),
            ),
            read_scope="full",
        ) or self._snapshot_version()
