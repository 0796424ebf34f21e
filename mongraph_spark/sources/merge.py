"""Copy-on-write MERGE for parquet-backed collections: the distributed
analog of the reference's per-document save/remove write path
(extendDocument.coffee pre-save/pre-remove hooks,
mongraphMongoosePlugin.coffee:43-61), re-expressed as bulk operators over
immutable table versions.

Plain parquet has no transactional MERGE, so each mutation writes a NEW
version directory and flips a pointer file — the Delta/Iceberg
copy-on-write model in miniature:

    <root>/_TABLE.json          # layout: key column, bucket count, schema
    <root>/v_00000/__bucket=K/part-*.parquet
    <root>/v_00001/__bucket=K/part-*.parquet   # only REWRITTEN buckets
    <root>/v_00001/manifest.json               # bucket -> version-relative dir
    <root>/_CURRENT                            # contains "v_00001"

**Partition-scoped rewrites** (the 100 TB shape): rows are hash-bucketed on
the table key at init; an ``upsert``/``delete_where`` rewrites ONLY the
buckets containing touched keys and the new version's manifest points every
untouched bucket at the PRIOR version's files — a trickle of saves against
a huge table rewrites k buckets, never the table (the reference's write
path is per-document; full-table rewrites would make a Spark port unusable
as an operational store).  Readers resolve a version through its manifest,
so unchanged data is shared structurally across versions (Iceberg's
manifest-reuse, one level simpler).

- ``upsert``: bucket-scoped base ANTI-JOIN update-keys ∪ deduped updates →
  next version.  The anti-join is keyed on the row key (broadcast when the
  update batch is small — the common case).
- ``delete_where``: one predicate scan finds the buckets holding matching
  rows; only those are rewritten (predicate pushdown applies — in the scan
  AND in the bucket pruning).
- Readers pin a version at open time (the pointer flip is atomic via
  os.replace), so a long scan never sees a half-written version.

**The commit path.**  Every version goes through :func:`_claim_first`:
claim the next version name (an ``O_EXCL`` marker file), stage the
version dir (data, manifest, deletion vectors, an optional staged meta),
write the commit record, flip the pointer.  Any exception while staging
removes the version dir and releases the claim, so a failed write never
wedges the table for :data:`CLAIM_TTL_S`.  Metadata-only changes
(``add_column`` and friends) build their staged meta as one ``stage``
function through :func:`_commit_meta`.  Data mutations (``upsert``,
``merge_into``, ``delete_where``, ``compact``) compute their rewrite once,
as a function of (snapshot, destination dir), and :func:`_commit_data`
runs it in one of two OCC (optimistic concurrency) modes:

- ``occ="failfast"`` (default) claims FIRST: a racing live writer gets
  :class:`CommitConflict` before any compute, and the rewrite runs under
  the claim into the version dir against the claim's predecessor
  (:func:`_claim_base`).
- ``occ="rebase"`` stages FIRST into a private ``_staging`` dir against
  the caller's snapshot, then claims and checks every commit that landed
  since (:func:`_classify_conflict`; ``delete_where`` also re-runs its
  predicate over the intervening writers' files, ``compact`` skips the
  buckets someone rewrote).  Bucket-disjoint writers both commit with
  zero recompute; a logical conflict raises :class:`CommitConflict` for
  the whole-closure retry of :func:`commit_with_retry`.  Row-tracking,
  flat and not-yet-initialized tables always commit fail-fast.

``init_table`` without a ``key`` keeps the legacy single-directory layout
(one pseudo-bucket ``*``; every mutation is a full rewrite) — the semantics
reference the bucketed path must match row-for-row.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mongraph_spark.catalog import local_df
from mongraph_spark.sparkutil import lineage_cut

_POINTER = "_CURRENT"
_META = "_TABLE.json"
_MANIFEST = "manifest.json"
_COMMIT = "_commit.json"
_STAGING = "_staging"
_TOMBSTONES = "_vacuumed.json"
_STATS = "_stats.json"
_BUCKET = "__bucket"
_ROW_ID = "_row_id"  # physical-only column on row_tracking tables
_ROW_ID_STRIDE = 1 << 40  # batch ids: (commit version << 40) + in-batch rank; init: per-bucket
DEFAULT_BUCKETS = 16

# Conflict-classification sets for the rebase commit path (see
# _classify_conflict): bucket-scoped ops record the bucket dirs they
# REWROTE; content-preserving ops re-layout bytes without changing any
# row, so they never invalidate a concurrent bucket-disjoint write.
_BUCKET_SCOPED_OPS = {"upsert", "merge", "delete", "delete_dv"}
_CONTENT_PRESERVING_OPS = {"compact"}

# A live writer's claim on the next version is considered abandoned after
# this many seconds (crashed writer); a fresh claim raises CommitConflict
# instead of being clobbered.  Tests shrink this to exercise takeover.
CLAIM_TTL_S = 600.0

# How long a rebase committer polls for the claim before giving up and
# discarding its staged files.  Deliberately much larger than the 5 s
# fail-fast wait: the rebase caller has ALREADY paid the compute, and the
# claim holder it is most likely waiting on is a fail-fast writer that
# claims before compute and holds across its whole Spark job — discarding
# a fully staged write because a coexisting writer is slow would redo the
# expensive half to save the cheap one.  Staging is preserved for the
# whole wait; only the final timeout (or a LOGICAL conflict) deletes it.
REBASE_CLAIM_WAIT_S = 60.0


class VersionVacuumedError(ValueError):
    """``TIMESTAMP AS OF`` travel landed in a vacuumed gap: the version
    that was TRULY current at the requested timestamp has been deleted by
    a vacuum, so answering from an older survivor would silently return
    STALER data than asked for.  Delta errors here too — time travel
    either answers exactly or not at all."""


class ConstraintViolation(ValueError):
    """A CHECK constraint rejected a write — the Delta
    ``InvariantViolationException`` analog.  Carries the constraint name,
    its SQL predicate, and ONE sample violating row (bounded driver
    transfer: the enforcement scan short-circuits at the first hit)."""

    def __init__(self, name: str, expr: str, sample: dict, op: str):
        self.constraint = name
        self.expr = expr
        self.sample = sample
        super().__init__(
            f"CHECK constraint {name!r} ({expr}) violated by {op} — "
            f"sample row: {sample}"
        )


class CommitConflict(RuntimeError):
    """Optimistic-concurrency conflict: another live writer holds (or won)
    the commit for the version this writer targeted.  The Delta-style
    contract: the losing writer's work is discarded and the caller retries
    the WHOLE mutation, which re-reads the advanced snapshot and recomputes
    against the new base (see :func:`commit_with_retry`)."""

    def __init__(self, root: str, target: str, detail: str):
        self.root = root
        self.target = target
        super().__init__(
            f"commit conflict on {root}: {detail} (target version {target}); "
            "retry the mutation against the advanced snapshot"
        )


def _version_name(n: int) -> str:
    return f"v_{n:05d}"


def current_version(root: str) -> str | None:
    try:
        with open(os.path.join(root, _POINTER)) as fh:
            return fh.read().strip() or None
    except FileNotFoundError:
        return None


def _claim_path(root: str, ver: str) -> str:
    return os.path.join(root, ver + ".claim")


def _next_version(root: str) -> str:
    """Claim the next version name ATOMICALLY (optimistic concurrency).

    The claim is a sibling marker file ``<ver>.claim`` created with
    O_CREAT|O_EXCL — exactly one of any number of racing writers wins it;
    losers get :class:`CommitConflict` immediately, BEFORE spending any
    compute on the merge (fail-fast is the cheap half of the Delta
    protocol; the winner's pointer flip is the commit).  A claim older
    than :data:`CLAIM_TTL_S` belongs to a crashed writer: takeover is an
    atomic ``os.replace`` of the claim (exactly one racer's rename
    succeeds), after which the winner clears the dead writer's leftover
    version dir and re-claims.  A leftover dir with NO claim (pre-OCC
    crash) is cleared as before — the pointer always names the max
    COMMITTED version, so an uncommitted next-version dir is never live
    data."""
    # first-write-creates-table: a mutator may claim v0 on a root no
    # init_table ever touched (streaming_merge_upsert's sink does exactly
    # this) — the claim file needs its parent dir to exist
    os.makedirs(root, exist_ok=True)
    cur = current_version(root)
    ver = _version_name(0 if cur is None else int(cur.split("_")[1]) + 1)
    claim = _claim_path(root, ver)
    for attempt in (0, 1):
        try:
            fd = os.open(claim, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            try:
                age = time.time() - os.path.getmtime(claim)
            except FileNotFoundError:
                continue  # holder just committed/released; re-try the claim
            if age <= CLAIM_TTL_S or attempt == 1:
                raise CommitConflict(
                    root, ver, f"live writer holds claim {ver}.claim (age {age:.1f}s)"
                ) from None
            # stale claim: atomic takeover — exactly one racer's replace
            # succeeds; anyone else sees FileNotFoundError and loops
            try:
                os.replace(claim, claim + f".stale.{os.getpid()}")
            except FileNotFoundError:
                continue
            leftover = os.path.join(root, ver)
            if os.path.isdir(leftover):
                shutil.rmtree(leftover)
            try:
                os.unlink(claim + f".stale.{os.getpid()}")
            except FileNotFoundError:
                pass
            continue
        with os.fdopen(fd, "w") as fh:
            json.dump({"pid": os.getpid(), "ts": time.time()}, fh)
        leftover = os.path.join(root, ver)
        if os.path.isdir(leftover):
            # un-claimed leftover from a pre-OCC crashed writer
            shutil.rmtree(leftover)
        return ver
    raise CommitConflict(root, ver, "could not win claim")  # pragma: no cover


def _flip(root: str, version: str) -> None:
    """Commit: verify the snapshot this writer planned against is STILL
    current (defense in depth — the claim already serializes writers),
    atomically swap the pointer, then release the claim."""
    cur = current_version(root)
    expected = (
        None if version == _version_name(0) else _version_name(int(version.split("_")[1]) - 1)
    )
    if cur != expected:
        # another writer advanced the table between our read and our flip;
        # discard our staged version and surface the typed conflict
        staged = os.path.join(root, version)
        if os.path.isdir(staged):
            shutil.rmtree(staged)
        try:
            os.unlink(_claim_path(root, version))
        except FileNotFoundError:
            pass
        raise CommitConflict(
            root, version, f"snapshot advanced: expected {expected}, found {cur}"
        )
    tmp = os.path.join(root, _POINTER + ".tmp")
    with open(tmp, "w") as fh:
        fh.write(version)
    os.replace(tmp, os.path.join(root, _POINTER))  # atomic pointer swap
    try:
        os.unlink(_claim_path(root, version))
    except FileNotFoundError:
        pass


def commit_with_retry(mutation, max_retries: int = 5, backoff_s: float = 0.05):
    """Run a store mutation under optimistic-concurrency retry: on
    :class:`CommitConflict` the WHOLE closure re-runs — every mutator
    re-reads ``_CURRENT`` and the meta at call time, so the retry
    recomputes against the advanced snapshot (never replays a stale plan).
    Linear backoff keeps racing writers from lock-stepping.

    ``mutation`` is a zero-arg callable, e.g.
    ``commit_with_retry(lambda: upsert(spark, root, batch, key="id"))``."""
    last: CommitConflict | None = None
    for attempt in range(max_retries + 1):
        try:
            return mutation()
        except CommitConflict as exc:
            last = exc
            if attempt < max_retries:
                time.sleep(backoff_s * (attempt + 1))
    assert last is not None
    raise last


def _write_commit(root: str, ver: str, op: str, buckets) -> None:
    """Record a committed version's WRITE SET next to its manifest:
    ``op`` names the mutator and ``buckets`` is the sorted list of bucket
    ids it rewrote (or ``"*"`` for a whole-table write).  The record is
    what lets a later writer decide whether an intervening commit
    logically conflicts with its own (Delta's serializability check reads
    exactly this from the transaction log)."""
    rec = {"op": op, "buckets": buckets, "pid": os.getpid(), "ts": time.time()}
    tmp = os.path.join(root, ver, _COMMIT + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(rec, fh)
    os.replace(tmp, os.path.join(root, ver, _COMMIT))


def _read_commit(root: str, ver: str) -> dict | None:
    try:
        with open(os.path.join(root, ver, _COMMIT)) as fh:
            return json.load(fh)
    except (FileNotFoundError, NotADirectoryError, json.JSONDecodeError):
        return None


def _commit_ts(root: str, ver: str) -> float:
    """A committed version's commit time — ONE clock for every feature
    that reasons about when a version landed (``vacuum_retention``'s
    window and ``read_as_of``'s travel must agree, or a version the
    latter says is within the window could be GC'd by the former): the
    commit record's ``ts`` field, with manifest/dir mtime only as the
    pre-record fallback.  mtime is NOT the same clock — any path that
    rewrites or re-syncs a manifest (read-repair, backup restore) shifts
    it, while the commit record is immutable once written."""
    rec = _read_commit(root, ver)
    if rec is not None and "ts" in rec:
        return float(rec["ts"])
    try:
        return os.path.getmtime(os.path.join(root, ver, _MANIFEST))
    except FileNotFoundError:  # pre-manifest dir: best effort
        return os.path.getmtime(os.path.join(root, ver))


def _record_tombstones(root: str, ts_by_ver: dict[str, float]) -> None:
    """Record vacuumed versions' commit times in ``_vacuumed.json`` —
    the sliver of Delta's surviving transaction log that ``read_as_of``
    needs: with the timestamp of a DELETED version still known, a
    timestamp query resolves to its true target exactly, erroring only
    when that target is genuinely gone instead of conservatively
    whenever any neighboring version is missing."""
    if not ts_by_ver:
        return
    path = os.path.join(root, _TOMBSTONES)
    try:
        with open(path) as fh:
            data = json.load(fh)
    except (FileNotFoundError, json.JSONDecodeError):
        data = {}
    data.update(ts_by_ver)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(data, fh, sort_keys=True)
    os.replace(tmp, path)


def _read_tombstones(root: str) -> dict[str, float]:
    try:
        with open(os.path.join(root, _TOMBSTONES)) as fh:
            return {k: float(v) for k, v in json.load(fh).items()}
    except (FileNotFoundError, json.JSONDecodeError):
        return {}


def _set_commit_ts(root: str, ver: str, ts: float) -> None:
    """Deterministic-test hook: overwrite a committed version's recorded
    commit time.  This is how fixtures age versions now that
    :func:`_commit_ts` is the single clock — ``os.utime`` on the manifest
    no longer moves it (that was the whole point of unifying)."""
    rec = _read_commit(root, ver) or {}
    rec["ts"] = ts
    tmp = os.path.join(root, ver, _COMMIT + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(rec, fh)
    os.replace(tmp, os.path.join(root, ver, _COMMIT))


def _meta_fingerprint(meta: dict) -> str:
    """Canonical string over everything a staged write plan depends on:
    key column, bucket count, schema, evolved-column fills, rebucket
    fence.  Any change (add_column, rebucket) between a writer's snapshot
    read and its commit invalidates the staged files — they were written
    under the OLD physical schema/layout."""
    return json.dumps(
        {
            "key": meta.get("key"),
            "n_buckets": meta.get("n_buckets"),
            "schema": meta.get("schema"),
            "added": meta.get("added") or [],
            "bucketed_since": meta.get("bucketed_since"),
            # staged files were VALIDATED under the constraint set of the
            # writer's snapshot; a constraint added mid-flight must
            # invalidate them (they may contain rows the new rule rejects)
            "constraints": meta.get("constraints") or {},
            # a rename mid-flight re-maps logical->physical names; staged
            # files stay physically valid but the writer's whole plan
            # (touched columns, key name) spoke the old logical language
            "renames": meta.get("renames") or {},
        },
        sort_keys=True,
    )


def _phys_name(meta: dict, logical: str) -> str:
    """The PHYSICAL column name (the name in the parquet files) for a
    logical column — identity unless the column was renamed.  Physical
    names are assigned at column creation and NEVER change: a rename is a
    metadata-only re-labeling, so files written before and after it agree
    byte-for-byte (the Delta column-mapping contract, name-mapped)."""
    return (meta.get("renames") or {}).get(logical, logical)


def _phys_schema(meta: dict, schema: T.StructType) -> T.StructType:
    """The logical schema with every field re-labeled to its physical
    name (order, types, nullability preserved)."""
    renames = meta.get("renames") or {}
    if not renames:
        return schema
    return T.StructType(
        [
            T.StructField(renames.get(f.name, f.name), f.dataType, f.nullable)
            for f in schema.fields
        ]
    )


def _to_physical(df: DataFrame, meta: dict) -> DataFrame:
    """Re-label a LOGICAL frame to physical column names immediately
    before a data-file write.  Every writer funnels through this, so the
    files always speak physical; ``_read_paths`` aliases back to logical
    immediately after the scan.  ``__bucket`` (not a table column) rides
    through untouched."""
    renames = meta.get("renames") or {}
    if not renames:
        return df
    return df.select(
        *[
            F.col(c).alias(renames[c]) if c in renames else F.col(c)
            for c in df.columns
        ]
    )


def _replace_meta(meta: dict, **fields) -> dict:
    """A staged meta: ``meta`` with ``fields`` replaced, every other field
    (constraints, renames, row tracking, fences) carried as it is.  An
    emptied ``dropped`` / ``constraints`` / ``renames`` entry is removed
    rather than stored empty."""
    staged = {**meta, **fields}
    for name in ("dropped", "constraints", "renames"):
        if name in fields and not fields[name]:
            del staged[name]
    return staged


def _check_constraints(df: DataFrame, meta: dict, op: str) -> None:
    """Enforce every recorded CHECK constraint on the NEW rows of a write
    (SQL CHECK semantics: a row violates only when the predicate is
    FALSE — NULL/unknown passes, as in Delta and the standard).  One
    short-circuiting Spark job per constraint (``limit(1)``), run BEFORE
    any file is staged, so a rejected write costs no cleanup."""
    constraints = meta.get("constraints") or {}
    for name in sorted(constraints):
        expr = constraints[name]
        bad = df.filter(~F.coalesce(F.expr(expr), F.lit(True))).limit(1).collect()
        if bad:
            sample = {k: v for k, v in bad[0].asDict().items() if k != _BUCKET}
            raise ConstraintViolation(name, expr, sample, op)


def _check_generated(df: DataFrame, col: dict, schema, op: str) -> None:
    """A write batch that CARRIES a generated column must agree with the
    expression (Delta rejects explicit mismatching values): one
    short-circuiting ``limit(1)`` probe, null-safe equality."""
    name = col["name"]
    expected = F.expr(col["expr"]).cast(schema[name].dataType)
    bad = df.filter(~F.col(name).eqNullSafe(expected)).limit(1).collect()
    if bad:
        sample = {k: v for k, v in bad[0].asDict().items() if k != _BUCKET}
        raise ConstraintViolation(
            f"generated:{name}", col["expr"], sample, op
        )


def _refuse_phys_collision(meta: dict, name: str) -> None:
    """A new column's physical name is its logical name; refuse a name
    that is already the PHYSICAL name of a live renamed column — two
    logical columns must never share one physical name (the one invariant
    name-mapped column mapping needs)."""
    if name in set((meta.get("renames") or {}).values()):
        raise ValueError(
            f"column name {name!r} is the physical name of a renamed live "
            "column; pick another name (or rename that column back first)"
        )


def _new_column_stage(name: str, dtype, **fill):
    """The staged-meta step of :func:`add_column` and
    :func:`add_generated_column`: append ``name`` to the schema and record
    its version-fenced fill (``fill`` holds ``default`` and, for a
    generated column, ``expr``).

    Re-adding a DROPPED name is safe REINCARNATION, not resurrection:
    every file written before this version's ``added_in`` reads the new
    fill — the fill in :func:`_read_paths` REPLACES the column for those
    files unconditionally, so stale pre-drop bytes are never surfaced
    (and Catalyst prunes the replaced column out of the scan entirely,
    which also makes a TYPE-CHANGED re-add safe: the old physical
    incarnation is never even decoded).  This is the guarantee Delta
    needs column-mapping ids for; the version-fenced fill gives it to
    this store for free."""

    def stage(meta: dict, n: int) -> dict:
        schema = T.StructType.fromJson(json.loads(meta["schema"]))
        if name in schema.fieldNames():
            raise ValueError(f"column {name!r} already exists")
        _refuse_phys_collision(meta, name)
        return _replace_meta(
            meta,
            schema=schema.add(name, _as_dtype(dtype), True).json(),
            added=[*(meta.get("added") or []), {"name": name, "added_in": n, **fill}],
            dropped=[d for d in meta.get("dropped") or [] if d != name],
        )

    return stage


def add_generated_column(
    spark: SparkSession, root: str, name: str, dtype: str, expr: str
) -> None:
    """Delta-style GENERATED column — ``name dtype GENERATED ALWAYS AS
    (expr)``: no data file is touched; the column is recorded in table
    meta with its defining expression, and

    - READS of files written before the add EVALUATE the expression over
      each row's base columns (the version-fenced fill, expression form);
    - WRITES that omit the column compute it (physically materialized in
      the new files); writes that carry it are VALIDATED against the
      expression (mismatch → :class:`ConstraintViolation`, the Delta
      contract);
    - MERGE updates re-derive it from the post-update base values, and a
      ``when_matched_set`` targeting it is refused;
    - the next ``compact`` materializes it for old files as a side effect
      of rewriting through the current schema.

    The expression may reference only base columns present at add time
    (resolved against the recorded schema here, fail-fast).  Commits as a
    claim-serialized metadata-only version (op=``add_generated``) exactly
    like :func:`add_column`, so it serializes with every writer and
    conflicts any in-flight rebase commit (whole-table write set +
    fingerprint bump — staged files were written without the fill)."""
    meta = _read_meta(root)
    if meta["schema"] is None:
        raise ValueError(f"no table meta under {root}")
    schema = T.StructType.fromJson(json.loads(meta["schema"]))
    # fail-fast resolution: expr must be computable from the CURRENT schema
    local_df(spark, [], schema).select(
        F.expr(expr).cast(dtype).alias(name)
    )
    _commit_meta(
        root, "add_generated", _new_column_stage(name, dtype, default=None, expr=expr)
    )


def add_check_constraint(
    spark: SparkSession, root: str, name: str, expr: str
) -> None:
    """``ALTER TABLE ADD CONSTRAINT name CHECK (expr)`` — Delta semantics:

    1. EXISTING data is validated first (one short-circuiting scan of the
       current version); a violating row rejects the ALTER itself, so a
       recorded constraint is always a true invariant of the table.
    2. The constraint commits as a claim-serialized METADATA-ONLY version
       (op=``add_constraint``, the :func:`add_column` pattern), so it can
       never race a writer: a rebase committer whose files were validated
       under the old rule set sees a fingerprint mismatch AND a
       non-bucket-scoped commit record and retries (its staged rows may
       violate the new rule).
    3. Every subsequent ``upsert`` / ``merge_into`` enforces the rule on
       its new rows before staging a single file.

    NULL predicate passes (SQL CHECK three-valued logic).  ``restore`` is
    a metadata op and does NOT re-validate (Delta parity): restoring to a
    pre-constraint version can resurface rows the rule would reject —
    the constraint guards writes, not time travel."""
    if not name or "/" in name or name.startswith("_"):
        raise ValueError(f"invalid constraint name {name!r}")
    meta = _read_meta(root)
    if meta["schema"] is None:
        raise ValueError(f"no table meta under {root}")
    if name in (meta.get("constraints") or {}):
        raise ValueError(f"constraint {name!r} already exists")
    F.expr(expr)  # fail fast on unparseable SQL
    existing = read_current(spark, root)
    if existing is not None:
        _check_constraints(
            existing, {"constraints": {name: expr}}, "add_check_constraint"
        )

    def stage(meta: dict, _n: int) -> dict:
        constraints = meta.get("constraints") or {}
        if name in constraints:
            raise ValueError(f"constraint {name!r} already exists")
        return _replace_meta(meta, constraints={**constraints, name: expr})

    _commit_meta(root, "add_constraint", stage)


def drop_check_constraint(root: str, name: str) -> None:
    """``ALTER TABLE DROP CONSTRAINT`` — removes the rule as a
    claim-serialized metadata-only version (op=``drop_constraint``).
    Dropping only LOOSENS the write contract, but it still serializes
    through the claim (and bumps the meta fingerprint) so concurrent
    rebase writers re-read a consistent rule set rather than racing a
    half-applied ALTER."""

    def stage(meta: dict, _n: int) -> dict:
        constraints = dict(meta.get("constraints") or {})
        if constraints.pop(name, None) is None:
            raise ValueError(f"no constraint {name!r} under {root}")
        return _replace_meta(meta, constraints=constraints)

    _commit_meta(root, "drop_constraint", stage)


def _claim_next(root: str, wait_s: float = 5.0, poll_s: float = 0.05) -> str:
    """Claim the next version, WAITING up to ``wait_s`` on a live holder
    (``0`` fails fast, as a fail-fast writer does; metadata commits wait
    the default).  The rebase commit path has already spent the compute
    when it claims.  The holder's claim window is short when
    every writer uses rebase mode (manifest write + pointer flip), but a
    coexisting ``occ="failfast"`` writer claims BEFORE its compute and
    holds across the whole Spark job — which is why the rebase commit
    path passes a much larger ``wait_s`` (:data:`REBASE_CLAIM_WAIT_S`):
    waiting is cheap, while giving up discards fully staged files and
    forces the entire compute to rerun.  Each poll recomputes the target
    from the advanced pointer, so a committer releasing its claim moves
    the waiter FORWARD, never into a stale version name."""
    deadline = time.time() + wait_s
    while True:
        try:
            return _next_version(root)
        except CommitConflict:
            if time.time() >= deadline:
                raise
            time.sleep(poll_s)


def _claim_base(ver: str) -> str | None:
    """The claimed version's predecessor — the only correct snapshot for a
    fail-fast writer to build on.  A commit can land in the gap between a
    writer's pre-claim snapshot read and its claim; planning against that
    stale snapshot would silently drop the intervening writer's buckets
    from the new manifest, and the flip check cannot catch it (it
    compares the pointer against the claim's predecessor, which the
    intervening commit IS).  Every fail-fast mutation therefore re-bases
    its snapshot on the claim immediately after winning it."""
    n = int(ver.split("_")[1])
    return None if n == 0 else _version_name(n - 1)


def _release_claim(root: str, ver: str) -> None:
    try:
        os.unlink(_claim_path(root, ver))
    except FileNotFoundError:
        pass


def _recheck_meta(root: str, ver: str, meta: dict) -> dict:
    """Fail-fast writers read table meta BEFORE claiming (validation —
    CHECK constraints, generated columns, evolved-column fills, the
    bucket layout — all ran against that snapshot); a metadata commit
    (add_column / add_check_constraint / add_generated_column) can land
    in the read-meta-to-claim gap, in which case the claim carries the
    intervening commit's manifest while the write was validated under the
    STALE rule set — rows violating a just-added constraint would commit
    unchecked.  The rebase paths catch exactly this via the fingerprint
    check in :func:`_rebase_commit`; this is the fail-fast twin: compare
    fingerprints under the claim and conflict out on any change so
    :func:`commit_with_retry` recomputes the whole closure against fresh
    meta.  Returns the (unchanged) meta for call-site chaining."""
    if _meta_fingerprint(_read_meta(root)) != _meta_fingerprint(meta):
        _release_claim(root, ver)
        raise CommitConflict(
            root,
            ver,
            "table meta changed between the snapshot read and the claim "
            "(schema/layout/constraint evolution)",
        )
    return meta


def _classify_conflict(
    root: str, snapshot: str, current: str, ours: set[str]
) -> str | None:
    """The Delta-style logical-conflict check: given OUR bucket write set
    (computed against ``snapshot``) and the commits that landed between
    ``snapshot`` and ``current``, decide whether committing our staged
    files on top of ``current`` is serializable.  Returns ``None`` when
    every intervening commit is rebase-safe, else a reason string.

    Conflict matrix (intervening op vs a bucket-scoped requester):

    ===================  =========================================
    upsert/merge/delete  safe iff its recorded bucket set is
                         DISJOINT from ours (same key ⇒ same
                         bucket, so disjoint buckets ⇒ disjoint
                         keys ⇒ the serial order "theirs, then
                         ours" produces exactly the overlaid state)
    compact              always safe — content-preserving
                         re-layout; our files carry the same rows
                         either way
    init/rebucket/       never safe — whole-table writes (and
    restore/add_column   restore jumps the state our plan read;
                         add_column commits as a version since r9
                         and invalidates staged files, which were
                         written without the evolved column's fill
                         metadata — the fingerprint check catches
                         the same thing, belt and braces)
    no commit record     never safe — unknown write set
    ===================  ========================================="""
    lo = int(snapshot.split("_")[1])
    hi = int(current.split("_")[1])
    for n in range(lo + 1, hi + 1):
        ver = _version_name(n)
        rec = _read_commit(root, ver)
        if rec is None:
            return f"{ver} has no commit record (unknown write set)"
        op, buckets = rec.get("op"), rec.get("buckets")
        if op in _CONTENT_PRESERVING_OPS:
            continue
        if op not in _BUCKET_SCOPED_OPS or buckets == "*":
            return f"{ver} ({op}) is not bucket-scoped (whole-table write set)"
        overlap = ours & set(buckets)
        if overlap:
            return f"{ver} ({op}) wrote overlapping buckets {sorted(overlap)}"
    return None


def _check_occ(occ: str) -> None:
    if occ not in ("failfast", "rebase"):
        raise ValueError(f"occ must be 'failfast' or 'rebase', got {occ!r}")


def _claim_first(root: str, op: str, stage, wait_s: float = 0.0):
    """The one commit sequence every version goes through: claim the next
    version (waiting up to ``wait_s`` on a live holder), let
    ``stage(ver)`` fill its dir — data, manifest, vectors, an optional
    staged meta — and return the write set (sorted bucket ids or ``"*"``),
    write the commit record, flip.  Returns ``(ver, write_set)``.

    ``stage`` returning ``None`` means nothing to commit: the claim is
    released and ``(snapshot under the claim, [])`` is returned.  Any
    exception while staging removes the version dir and releases the
    claim, so no failed write holds the table for :data:`CLAIM_TTL_S`.
    A staged meta becomes authoritative at the flip (``_read_meta``
    prefers it); the root copy is synced right after."""
    ver = _claim_next(root, wait_s)
    try:
        buckets = stage(ver)
        if buckets is not None:
            _write_commit(root, ver, op, buckets)
    except BaseException:
        shutil.rmtree(os.path.join(root, ver), ignore_errors=True)
        _release_claim(root, ver)
        raise
    if buckets is None:
        shutil.rmtree(os.path.join(root, ver), ignore_errors=True)
        _release_claim(root, ver)
        return _claim_base(ver), []
    _flip(root, ver)
    try:
        with open(os.path.join(root, ver, _META)) as fh:
            _sync_root_meta(root, json.load(fh))
    except FileNotFoundError:
        pass
    return ver, buckets


def _stage_meta(root: str, ver: str, meta: dict) -> None:
    """Stage ``meta`` inside the version dir: the flip commits data and
    meta as one unit (a crash on either side leaves them consistent)."""
    with open(os.path.join(root, ver, _META), "w") as fh:
        json.dump(meta, fh)


def _commit_meta(root: str, op: str, stage) -> None:
    """Commit a metadata-only change as a version of its own, so it
    serializes with every writer through the claim: an in-flight rebase
    committer conflicts on the meta fingerprint and the whole-table write
    set, a fail-fast writer on :func:`_recheck_meta`.  ``stage(meta, n)``
    validates and returns the staged meta for version number ``n``; it
    runs on the meta re-read UNDER the claim.  The new version's manifest
    and vectors are the prior version's.  With no committed version yet
    nothing can race and there is no manifest: the root meta is rewritten
    with ``stage(meta, 0)``."""
    meta = _read_meta(root)
    if meta["schema"] is None:
        raise ValueError(f"no table meta under {root}")
    if current_version(root) is None:
        _sync_root_meta(root, stage(meta, 0))
        return

    def write(ver: str) -> str:
        staged = stage(_read_meta(root), int(ver.split("_")[1]))
        os.makedirs(os.path.join(root, ver))
        _write_manifest(root, ver, _read_manifest(root, _claim_base(ver)))
        _carry_dv(root, ver)
        _stage_meta(root, ver, staged)
        return "*"

    _claim_first(root, op, write, wait_s=5.0)


def _publish(root: str, ver: str, base: dict[str, str], touched) -> None:
    """Write ``ver``'s manifest: ``base`` without the touched buckets (a
    rewritten bucket can empty out entirely), plus every bucket dir
    ``ver`` wrote; the touched buckets' vectors are cleared (each rewrite
    read them vector-applied, so the new files materialize them)."""
    dropped = set(base) if touched == "*" else set(touched)
    new_map = {b: rel for b, rel in base.items() if b not in dropped}
    new_map.update(_written_buckets(root, ver))
    _write_manifest(root, ver, new_map)
    _carry_dv(root, ver, cleared=dropped)


def _check_serializable(root: str, snapshot: str, cur: str, ver: str, touched):
    """The default rebase commit check: every commit since ``snapshot``
    must be bucket-disjoint from ours (:func:`_classify_conflict`)."""
    if cur != snapshot:
        reason = _classify_conflict(root, snapshot, cur, set(touched))
        if reason is not None:
            raise CommitConflict(root, ver, reason)
    return touched


def _commit_data(
    root: str,
    op: str,
    meta: dict,
    snapshot: str | None,
    rewrite,
    rebase: bool,
    check=_check_serializable,
):
    """Commit a data mutation computed once by ``rewrite(snap, dest,
    ver_num)``: it writes the new bucket files for snapshot ``snap`` into
    ``dest`` and returns the touched buckets (``"*"`` for a flat table),
    or ``None`` when there is nothing to commit.  ``ver_num`` is the
    version number in fail-fast mode and ``None`` in rebase mode.

    Fail-fast (``rebase=False``): claim first, then run the rewrite into
    the version dir against :func:`_claim_base`, after
    :func:`_recheck_meta`.  Rebase: run it into a private staging dir
    against ``snapshot``, then :func:`_rebase_commit` with ``check``.
    Returns ``(version, committed buckets)``; a no-op returns the snapshot
    and ``[]``."""
    if rebase:
        from uuid import uuid4

        staging = os.path.join(root, _STAGING, f"{op}_{os.getpid()}_{uuid4().hex}")
        os.makedirs(os.path.dirname(staging), exist_ok=True)
        try:
            touched = rewrite(snapshot, staging, None)
            if touched is None:
                return snapshot, []
            os.makedirs(staging, exist_ok=True)
            return _rebase_commit(root, op, meta, snapshot, staging, touched, check)
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    def stage(ver: str):
        snap = _claim_base(ver)
        _recheck_meta(root, ver, meta)
        dest = os.path.join(root, ver)
        touched = rewrite(snap, dest, int(ver.split("_")[1]))
        if touched is not None:
            os.makedirs(dest, exist_ok=True)
            _publish(root, ver, _read_manifest(root, snap) if snap else {}, touched)
        return touched

    return _claim_first(root, op, stage)


def _rebase_commit(
    root: str, op: str, meta: dict, snapshot: str, staging: str, touched, check
):
    """Claim-last commit of a staged rewrite: claim (waiting up to
    :data:`REBASE_CLAIM_WAIT_S` — the compute is already paid, and the
    holder is most likely a fail-fast writer holding across its Spark
    job), re-check the meta fingerprint, promote the staged dir, then
    ``check(root, snapshot, cur, ver, touched)`` against everything that
    committed since ``snapshot``: it raises :class:`CommitConflict` or
    returns the buckets to commit (``None``: none).  Those overlay the
    ADVANCED manifest — every intervening commit was bucket-disjoint, so
    every other bucket's latest files are theirs and ours stay correct."""

    def stage(ver: str):
        cur = current_version(root)
        if _meta_fingerprint(_read_meta(root)) != _meta_fingerprint(meta):
            raise CommitConflict(
                root, ver,
                "table metadata changed since snapshot (schema/layout evolution)",
            )
        os.rename(staging, os.path.join(root, ver))
        committed = check(root, snapshot, cur, ver, touched)
        if committed is not None:
            _publish(root, ver, _read_manifest(root, cur), committed)
        return committed

    return _claim_first(root, op, stage, wait_s=REBASE_CLAIM_WAIT_S)


def _write_meta(root: str, meta: dict) -> None:
    """Write the table meta outside a commit (``init_table``).  If the
    current version dir carries a staged meta copy (authoritative — see
    :func:`_read_meta`), update it first so a crash between the two
    writes leaves the authoritative copy new and the root cache stale
    (read-repaired), never the reverse."""
    cur = current_version(root)
    if cur is not None and os.path.exists(os.path.join(root, cur, _META)):
        staged = os.path.join(root, cur, _META)
        tmp = staged + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(meta, fh)
        os.replace(tmp, staged)  # atomic: never leave truncated staged meta
    _sync_root_meta(root, meta)


def _sync_root_meta(root: str, meta: dict) -> None:
    tmp = os.path.join(root, _META + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, os.path.join(root, _META))  # atomic


def _read_meta(root: str) -> dict:
    # Layout-changing commits (rebucket) stage their new meta INSIDE the
    # version dir so the atomic pointer flip commits data and meta as one
    # unit; when the current version carries a staged copy it is
    # authoritative, and we read-repair the root fast-path copy here (the
    # store is single-writer, so the atomic replace cannot race another
    # repair mid-commit).
    cur = current_version(root)
    if cur is not None:
        try:
            with open(os.path.join(root, cur, _META)) as fh:
                staged = json.load(fh)
        except (FileNotFoundError, NotADirectoryError):
            staged = None
        except json.JSONDecodeError:
            # Pre-fix truncated staged copy (non-atomic write crashed
            # mid-flush): fall back to the root fast-path copy rather
            # than wedging every read.
            staged = None
        if staged is not None:
            try:
                with open(os.path.join(root, _META)) as fh:
                    root_copy = json.load(fh)
            except FileNotFoundError:
                root_copy = None
            if root_copy != staged:
                _sync_root_meta(root, staged)
            return staged
    try:
        with open(os.path.join(root, _META)) as fh:
            return json.load(fh)
    except FileNotFoundError:  # pre-manifest table: legacy flat layout
        return {"key": None, "n_buckets": None, "schema": None, "added": []}


def _write_manifest(root: str, ver: str, mapping: dict[str, str]) -> None:
    with open(os.path.join(root, ver, _MANIFEST), "w") as fh:
        json.dump(mapping, fh, sort_keys=True)


def _read_manifest(root: str, ver: str) -> dict[str, str]:
    try:
        with open(os.path.join(root, ver, _MANIFEST)) as fh:
            return json.load(fh)
    except FileNotFoundError:  # pre-manifest version dir: data sits inline
        return {"*": ver}


_DV_SIDECAR = "_dv.json"


def _write_dv(root: str, ver: str, dv: dict[str, list[str]]) -> None:
    """Persist a version's deletion-vector sidecar: bucket -> list of
    root-relative parquet paths, each holding the table-KEY values
    deleted from that bucket by a merge-on-read DELETE.  An absent or
    empty sidecar means "no pending deletion vectors" — every pre-DV
    version and every fresh rewrite reads unchanged."""
    path = os.path.join(root, ver, _DV_SIDECAR)
    if not dv:
        try:
            os.unlink(path)
        except FileNotFoundError:
            pass
        return
    with open(path, "w") as fh:
        json.dump(dv, fh, sort_keys=True)


def _read_dv(root: str, ver: str) -> dict[str, list[str]]:
    try:
        with open(os.path.join(root, ver, _DV_SIDECAR)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return {}


def _carry_dv(root: str, ver: str, cleared=()) -> None:
    """Carry the superseded (still-current — the pointer flips after) version's
    deletion vectors into ``ver``, dropping buckets in ``cleared``.

    The clear contract: a writer may clear a bucket's vectors ONLY if it
    rewrote that bucket from a DV-APPLIED base read (the rewrite then
    materializes the deletions).  Carrying a vector across an
    unsuspecting rewrite is safe for deletions (the anti-join keys are
    simply absent) but would KILL a re-inserted key — which is why every
    bucket-rewriting mutation in this module both applies-on-read and
    clears-on-commit."""
    prev = current_version(root)
    if prev is None:
        _write_dv(root, ver, {})
        return
    dropped = {str(b) for b in cleared}
    dv = {b: e for b, e in _read_dv(root, prev).items() if b not in dropped}
    _write_dv(root, ver, dv)


def _apply_dv(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    meta: dict,
    dv: dict[str, list[str]],
    buckets=None,
) -> DataFrame:
    """Merge-on-read: anti-join ``df`` against the deletion-vector keys of
    the given buckets (all buckets when ``None``).  The DV side is the
    deleted-key set, small relative to data by construction: its files'
    footers count its rows on the driver (no job), and up to 1M rows it
    broadcasts (the upsert key-probe's gate); past that a pathological
    mass-delete falls back to a shuffled anti-join via AQE, and
    ``compact`` exists precisely to materialize such vectors away."""
    if not dv or meta.get("key") is None:
        return df
    wanted = None if buckets is None else {str(b) for b in buckets}
    paths = [
        os.path.join(root, rel)
        for b, rels in dv.items()
        if wanted is None or b in wanted
        for rel in rels
    ]
    if not paths:
        return df
    import pyarrow.parquet as pq

    key = meta["key"]
    # DV sidecars store the key under its PHYSICAL name (stable across
    # renames, like the data files); alias to logical for the anti-join
    phys_key = _phys_name(meta, key)
    key_type = T.StructType.fromJson(json.loads(meta["schema"]))[key].dataType
    keys = spark.read.schema(
        T.StructType([T.StructField(phys_key, key_type)])
    ).parquet(*paths).select(F.col(phys_key).alias(key))
    # no distinct(): a repeated key changes no anti-join row, and its
    # shuffle would be a job of its own
    n_rows = sum(
        pq.read_metadata(os.path.join(p, f)).num_rows
        for p in paths
        for f in os.listdir(p)
        if f.endswith(".parquet")
    )
    if n_rows <= 1_000_000:
        keys = F.broadcast(keys)
    return df.join(keys, key, "left_anti")


def _bucket_expr(key: str, n_buckets: int):
    return F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets))


def _written_buckets(root: str, ver: str) -> dict[str, str]:
    """Bucket dirs actually produced by a partitionBy write of ``ver``; a
    flat table's ``data`` dir is its one pseudo-bucket ``*``."""
    out = {}
    base = os.path.join(root, ver)
    for d in os.listdir(base):
        if d.startswith(_BUCKET + "="):
            out[d.split("=", 1)[1]] = f"{ver}/{d}"
        elif d == "data":
            out["*"] = f"{ver}/data"
    return out


def _write_buckets(df: DataFrame, meta: dict, dest: str) -> None:
    """Write a ``__bucket``-carrying logical frame as bucket dirs under
    ``dest``, in physical column names."""
    _to_physical(df, meta).write.mode("errorifexists").partitionBy(_BUCKET).parquet(dest)


def _rel_version(rel: str) -> int:
    """Writer-version component of a manifest entry.  Manifests normally
    hold root-relative ``v_NNNNN/...`` entries, but a shallow clone's v0
    references the SOURCE's files by absolute path — parse the version
    component wherever it sits.  Legacy flat layout (``data`` dirs) never
    carries fills, so 0 is a safe floor."""
    import re as _re

    m = _re.search(r"v_(\d+)", rel)
    return 0 if m is None else int(m.group(1))


def _read_paths(
    spark: SparkSession,
    root: str,
    meta: dict,
    mapping: dict[str, str],
    row_ids: bool = False,
) -> DataFrame:
    """Read a manifest's files under the recorded schema, in logical
    column names.

    - ``added`` (metadata-only ADD COLUMN facts): files written BEFORE a
      column's ``added_in`` version lack it physically and read its fill;
      files written at-or-after read it normally (including explicit
      NULLs) — the Delta/Iceberg schema-evolution contract with no data
      rewrite.  Files group by the fills they need, one scan per group.
    - ``renames`` (logical -> physical): each scan speaks the files'
      PHYSICAL names and aliases back to logical immediately, so
      everything above this function lives purely in logical space.
    - ``row_ids``: writer-path reads on row-tracking tables widen the
      schema with the physical ``_row_id`` so rewrites carry the ids.

    A plain table is one scan with no projection: the recorded schema
    means no footer-inference job, and a metadata-only drop_column stays
    dropped although old files still carry the column (its bytes are
    never scanned).  ``__bucket`` rides along when the paths hold
    partition dirs."""
    paths = [os.path.join(root, rel) for rel in mapping.values()]
    if meta["schema"] is None:
        if not paths:
            raise ValueError(f"empty table with no recorded schema under {root}")
        return spark.read.parquet(*paths)
    schema = T.StructType.fromJson(json.loads(meta["schema"]))
    if row_ids and meta.get("row_tracking") and _ROW_ID not in schema.fieldNames():
        schema = T.StructType([*schema.fields, T.StructField(_ROW_ID, T.LongType())])
    if not paths:
        return local_df(spark, [], schema)
    renames = meta.get("renames") or {}
    added = meta.get("added") or []
    by_fills: dict[tuple[str, ...], list[str]] = {}
    for rel, path in zip(mapping.values(), paths):
        fills = tuple(c["name"] for c in added if _rel_version(rel) < c["added_in"])
        by_fills.setdefault(fills, []).append(path)
    if not renames and list(by_fills) == [()]:
        return spark.read.schema(schema).parquet(*paths)
    phys = _phys_schema(meta, schema)
    logical = [
        F.col(renames[n]).alias(n) if n in renames else F.col(n)
        for n in schema.fieldNames()
    ]
    out: DataFrame | None = None
    for fills, ps in sorted(by_fills.items()):
        part = spark.read.schema(phys).parquet(*ps).select(*logical)
        for col in added:
            if col["name"] in fills:
                part = part.withColumn(
                    col["name"], _fill_expr(col, schema[col["name"]].dataType)
                )
        out = part if out is None else out.unionByName(part)
    return out


def _fill_expr(col: dict, dtype):
    """The fill for an evolved column a file (or update batch) does not
    carry: a GENERATED column evaluates its expression over the row's
    base columns; a plain added column fills its recorded constant."""
    if col.get("expr") is not None:
        return F.expr(col["expr"]).cast(dtype)
    return F.lit(col["default"]).cast(dtype)


def _as_dtype(dtype) -> T.DataType:
    """Normalize a user-supplied column type (DataType object or a
    types.json()-style string like 'long' / 'decimal(10,2)') to a
    DataType.  Routing strings through the JSON-value parser instead of
    StructType.add's name lookup matters: the lookup silently maps
    unknown parameterized strings (e.g. 'decimal(10,2)') to LongType."""
    if isinstance(dtype, T.DataType):
        return dtype
    from pyspark.sql.types import _parse_datatype_json_value

    return _parse_datatype_json_value(dtype)


def add_column(root: str, name: str, dtype: str | T.DataType, default) -> None:
    """Metadata-only ADD COLUMN (the Delta/Iceberg schema-evolution shape):
    no data file is touched — the column is recorded in table meta with
    the version number at which it appears, and readers fill ``default``
    for every file written by an earlier version.  Subsequent ``upsert``
    batches may omit the column (filled with the default) or carry it
    (written physically, explicit NULLs preserved).  At 100 TB this is
    the difference between an O(1) catalog update and rewriting the
    table.

    The change COMMITS AS A VERSION of its own (:func:`_commit_meta`,
    op=``add_column``), so it serializes with every concurrent writer
    through the claim instead of racing them: a fail-fast writer
    mid-compute holds the claim and add_column waits (bounded) or
    conflicts; a rebase committer that claims first wins the version
    number and add_column lands AFTER it (``added_in`` = the version after
    theirs, so their files correctly read as default-filled); a rebase
    committer arriving after add_column sees a fingerprint mismatch AND a
    non-bucket-scoped commit record and retries.  Without this, add_column
    could land between a rebase committer's fingerprint check and its flip
    and stamp ``added_in`` equal to the in-flight writer's version, making
    readers treat files written WITHOUT the column as physically carrying
    it.  Re-adding a dropped name reincarnates it safely (see
    :func:`_new_column_stage`)."""
    _commit_meta(root, "add_column", _new_column_stage(name, dtype, default=default))


def drop_column(root: str, name: str) -> None:
    """Metadata-only DROP COLUMN — the logical-drop half of schema
    evolution (the Delta/Iceberg shape): no data file is touched; the
    column leaves the recorded schema, so every read projects it away
    (parquet column pruning — the dropped bytes are never even scanned),
    every subsequent write omits it, and the next compaction of a bucket
    materializes the drop physically as a side effect of rewriting
    through the current schema.

    Commits as a claim-serialized metadata-only version exactly like
    :func:`add_column` (op=``drop_column``), so it can never race a
    writer's fingerprint check.

    The dropped NAME is tombstoned in table meta until (if ever) it is
    re-added; :func:`add_column` REINCARNATES it safely — the re-add's
    version-fenced default fill replaces the column for every pre-re-add
    file, so stale pre-drop bytes are never surfaced, even across a type
    change (the old physical incarnation is pruned out of the scan).
    Time travel reads through the CURRENT schema (this store's meta is
    table-level, not per-version) — a pre-drop version read after the
    drop also projects the column away.  A dropped column's physical
    bytes are never read again, so its rename mapping dies with it.

    The table key and any not-null base column can be dropped only over
    the store's dead body: the key is the bucket layout."""

    def stage(meta: dict, _n: int) -> dict:
        if name == meta.get("key"):
            raise ValueError(f"cannot drop the table key {name!r} (bucket layout)")
        schema = T.StructType.fromJson(json.loads(meta["schema"]))
        if name not in schema.fieldNames():
            raise ValueError(f"no column {name!r} to drop")
        return _replace_meta(
            meta,
            schema=T.StructType([f for f in schema.fields if f.name != name]).json(),
            added=[c for c in meta.get("added") or [] if c["name"] != name],
            dropped=sorted(set(meta.get("dropped") or []) | {name}),
            renames={k: v for k, v in (meta.get("renames") or {}).items() if k != name},
        )

    _commit_meta(root, "drop_column", stage)


def _expr_references(meta: dict, name: str) -> list[str]:
    """Recorded SQL expressions (CHECK constraints, GENERATED columns)
    that reference ``name`` as a word — conservative token scan (a quoted
    string containing the name also counts; over-refusing is safe)."""
    import re as _re

    pat = _re.compile(rf"\b{_re.escape(name)}\b")
    hits = []
    for cname, expr in sorted((meta.get("constraints") or {}).items()):
        if pat.search(expr):
            hits.append(f"constraint {cname}: CHECK ({expr})")
    for col in meta.get("added") or []:
        if col.get("expr") is not None and pat.search(col["expr"]):
            hits.append(f"generated column {col['name']}: ({col['expr']})")
    return hits


def rename_column(root: str, old: str, new: str) -> None:
    """``ALTER TABLE RENAME COLUMN old TO new`` — metadata-only, data
    preserved, via name-mapped column mapping (the Delta
    ``columnMapping.mode=name`` shape): every column keeps the PHYSICAL
    name it was created under forever; a rename re-labels only the
    LOGICAL schema and records ``renames[new] = physical``.  No data file
    is touched — at 100 TB this is an O(1) catalog update, and old files,
    new files, staged rebase files, and deletion-vector sidecars all stay
    mutually readable because they all speak the (stable) physical names.

    Readers (:func:`_read_paths`, :func:`read_where`, :func:`_apply_dv`)
    scan under the physical schema and alias to logical immediately;
    writers re-label logical back to physical as the last step before
    every parquet write (:func:`_to_physical`).  Everything between — the
    whole query/merge/constraint surface — lives purely in logical space.

    Supported across the full surface: the BUCKET KEY may be renamed
    (the layout hashes values, not names; ``meta.key`` follows the
    logical name while DV sidecars keep writing the physical), chained
    renames collapse (a->b then b->c maps c directly to a's physical),
    renaming back to the original name erases the mapping entry, and
    column swaps compose through a temporary name.  Time travel reads
    old versions under the CURRENT logical names (meta is table-level —
    same documented posture as :func:`drop_column`), and a later
    ``drop_column`` of a renamed column tombstones its logical name
    while the mapping entry dies with it.

    Refused, with the reason in the error: renaming a column referenced
    by a CHECK constraint or a GENERATED expression (the recorded SQL
    text would silently keep the old name — drop and re-add the rule
    instead, the Delta posture); a target name that already exists, is
    tombstoned-dropped (keeps the reincarnation fence reasoning
    one-dimensional), or is reserved.

    Commits as a claim-serialized metadata-only version
    (op=``rename_column``, whole-table write set) exactly like
    :func:`add_column`: in-flight rebase writers conflict on the meta
    fingerprint (their plan spoke the old logical language), fail-fast
    writers on the post-claim :func:`_recheck_meta`."""
    if new == old:
        raise ValueError("rename target equals the current name")
    if new == _BUCKET:
        raise ValueError(f"{new!r} is a reserved name")

    def stage(meta: dict, _n: int) -> dict:
        schema = T.StructType.fromJson(json.loads(meta["schema"]))
        if old not in schema.fieldNames():
            raise ValueError(f"no column {old!r} to rename")
        if new in schema.fieldNames():
            raise ValueError(f"column {new!r} already exists")
        if new in set(meta.get("dropped") or []):
            raise ValueError(
                f"{new!r} is a tombstoned dropped name; add_column reincarnates "
                "dropped names — renaming onto one would conflate the two fences"
            )
        refs = _expr_references(meta, old)
        if refs:
            raise ValueError(
                f"cannot rename {old!r}: referenced by recorded expressions "
                f"({'; '.join(refs)}) — drop and re-add those rules under the "
                "new name instead"
            )
        renames = dict(meta.get("renames") or {})
        physical = renames.pop(old, old)  # chains collapse to the origin
        if new != physical:
            renames[new] = physical
        return _replace_meta(
            meta,
            key=new if meta.get("key") == old else meta.get("key"),
            schema=T.StructType(
                [
                    T.StructField(new, f.dataType, f.nullable) if f.name == old else f
                    for f in schema.fields
                ]
            ).json(),
            added=[
                {**c, "name": new} if c["name"] == old else c
                for c in meta.get("added") or []
            ],
            renames=renames,
        )

    _commit_meta(root, "rename_column", stage)


def read_version(
    spark: SparkSession, root: str, n: int, with_row_ids: bool = False
) -> DataFrame:
    """Time-travel read: pin an explicit version instead of the _CURRENT
    pointer.  Versions are immutable once the pointer has moved past them
    (a new version rewrites only its own touched-bucket dirs), so this is
    safe concurrently with later upserts — the Delta/Iceberg ``VERSION AS
    OF`` shape.  ``with_row_ids`` surfaces the stable ``_row_id`` column
    on row-tracking tables (absent otherwise)."""
    ver = _version_name(n)
    meta = _read_meta(root)
    df = _read_paths(spark, root, meta, _read_manifest(root, ver), with_row_ids)
    return _apply_dv(spark, root, df, meta, _read_dv(root, ver))


def read_current(
    spark: SparkSession, root: str, with_row_ids: bool = False
) -> DataFrame | None:
    ver = current_version(root)
    if ver is None:
        return None
    meta = _read_meta(root)
    df = _read_paths(spark, root, meta, _read_manifest(root, ver), with_row_ids)
    return _apply_dv(spark, root, df, meta, _read_dv(root, ver))


def read_point(spark: SparkSession, root: str, key_value) -> DataFrame:
    """O(one bucket file) point lookup — the OLTP get path (the store-side
    generalization of the reference's findCorrespondingNode id fetch,
    src/processtools.coffee:117-131): compute the key's bucket with the
    SAME ``pmod(xxhash64(key), n)`` expression the writers route rows by
    (folded on the driver, no Spark job — replicating Spark's xxhash64 in
    Python would be a silent-divergence trap), then read ONLY that
    bucket's directory from the current manifest and filter to the key.

    At 100 TB this is the difference between a point read costing one
    file's footer + one row group and a full-table scan: the manifest IS
    the index.  Schema evolution rides along (default fills / dropped-
    column projection via ``_read_paths``); a bucket absent from the
    manifest (no rows ever hashed there) returns an empty frame with the
    recorded schema.  Legacy flat tables (no key) fall back to a filtered
    full read — documented, not optimized."""
    ver = current_version(root)
    if ver is None:
        raise ValueError(f"no committed version under {root}")
    meta = _read_meta(root)
    key, n_buckets = meta.get("key"), meta.get("n_buckets")
    if key is None:
        df = read_current(spark, root)
        return df.filter(F.col(df.columns[0]) == key_value)
    schema = T.StructType.fromJson(json.loads(meta["schema"]))
    key_type = next(f.dataType for f in schema.fields if f.name == key)
    lit = F.lit(key_value).cast(key_type)
    # over a one-row local relation Catalyst folds the hash on the driver
    bucket = local_df(spark, [(0,)], "z int").select(
        F.pmod(F.xxhash64(lit), F.lit(n_buckets)).alias("b")
    ).collect()[0]["b"]
    mapping = _read_manifest(root, ver)
    rel = mapping.get(str(bucket))
    if rel is None:
        return local_df(spark, [], schema)
    df = _read_paths(spark, root, meta, {str(bucket): rel})
    if _BUCKET in df.columns:
        df = df.drop(_BUCKET)
    df = _apply_dv(
        spark, root, df, meta, _read_dv(root, ver), buckets=[str(bucket)]
    )
    return df.filter(F.col(key) == lit)


def _record_stats(base: str, col: str) -> None:
    """Per-file [min, max] of ``col`` for every bucket dir under ``base``
    (a version or staging dir), read from the parquet FOOTERS (row-group
    statistics — metadata only, the data is never re-scanned), persisted
    as a ``_stats.json`` sidecar next to them.  Bounded by the version's
    own file count — a maintenance-job cost, never a read-path one."""
    import pyarrow.parquet as pq

    stats: dict[str, dict[str, list]] = {}
    for d in sorted(os.listdir(base)):
        if not d.startswith(_BUCKET + "="):
            continue
        bucket = d.split("=", 1)[1]
        per_file = {}
        for f in sorted(os.listdir(os.path.join(base, d))):
            if not f.endswith(".parquet"):
                continue
            md = pq.read_metadata(os.path.join(base, d, f))
            idx = md.schema.to_arrow_schema().get_field_index(col)
            if idx < 0:
                continue
            lo = hi = None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    lo = hi = None
                    break
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            if lo is not None:
                per_file[f] = [lo, hi]
        if per_file:
            stats[bucket] = per_file
    if stats:
        with open(os.path.join(base, _STATS), "w") as fh:
            json.dump({"col": col, "buckets": stats}, fh, sort_keys=True)


def read_where(spark: SparkSession, root: str, col: str, lo, hi) -> DataFrame:
    """Range read with PLANNING-time file skipping: for every manifest
    entry whose version recorded ``_stats.json`` on ``col`` (written by
    ``compact(cluster_by=col)``), files whose [min, max] cannot intersect
    [lo, hi] are dropped from the scan set before Spark ever lists them —
    the Delta data-skipping shape (stats in the log, not the footers).
    Entries without stats are read in full (skipping is an optimization,
    never a correctness dependency), and the predicate is applied on top
    either way, so the result ALWAYS equals ``read_current`` + filter.

    Tables with pending metadata-only ADD COLUMN fills fall back to the
    unpruned read (the fill logic is version-grouped; compacted buckets
    materialize fills, so a compact-then-read_where cycle regains the
    skip).  At 100 TB: pruning a clustered column's range query this way
    removes file listing, footer fetches, AND task scheduling for the
    skipped files — the dominant cost of a selective scan over millions
    of files."""
    ver = current_version(root)
    if ver is None:
        raise ValueError(f"no committed version under {root}")
    meta = _read_meta(root)
    pred = (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
    if meta.get("key") is None or meta.get("added"):
        return read_current(spark, root).filter(pred)
    mapping = _read_manifest(root, ver)
    schema = T.StructType.fromJson(json.loads(meta["schema"]))
    # stats sidecars and file footers speak PHYSICAL names; the query (and
    # the predicate) speak logical — translate once for the skip compare
    phys_col = _phys_name(meta, col)
    stats_cache: dict[str, dict | None] = {}
    paths: list[str] = []
    for rel in mapping.values():
        bucket_dir = os.path.join(root, rel)  # absolute rels (clones) win
        ver_dir = os.path.dirname(bucket_dir)
        if ver_dir not in stats_cache:
            try:
                with open(os.path.join(ver_dir, _STATS)) as fh:
                    st = json.load(fh)
                stats_cache[ver_dir] = st if st.get("col") == phys_col else None
            except (FileNotFoundError, json.JSONDecodeError):
                stats_cache[ver_dir] = None
        st = stats_cache[ver_dir]
        bucket = rel.rsplit("=", 1)[-1]
        per_file = (st or {}).get("buckets", {}).get(bucket)
        if not per_file:
            paths.append(bucket_dir)  # no stats: scan the whole dir
            continue
        known = set()
        for f, (fmin, fmax) in per_file.items():
            known.add(f)
            if not (fmax < lo or fmin > hi):
                paths.append(os.path.join(bucket_dir, f))
        # files the sidecar doesn't know (footer without min/max) scan anyway
        for f in os.listdir(bucket_dir):
            if f.endswith(".parquet") and f not in known:
                paths.append(os.path.join(bucket_dir, f))
    if not paths:
        return local_df(spark, [], schema)
    df = _read_paths(spark, root, meta, {p: p for p in paths})
    if _BUCKET in df.columns:
        df = df.drop(_BUCKET)
    df = _apply_dv(spark, root, df, meta, _read_dv(root, ver))
    return df.filter(pred)


def _assign_row_ids(df: DataFrame, key: str, ver_num: int) -> DataFrame:
    """Stamp fresh ``_row_id``s on rows that lack one: (ver_num << 40) +
    rank-of-key within this batch.  Version numbers are claim-serialized
    and unique, so concurrent committers can never mint the same id; the
    in-batch rank orders by key (deterministic — batches are deduped by
    key first).  Rows already carrying a non-null id keep it.

    The single-partition window is the BOUNDED-batch path (upsert /
    merge insert sides); the full initial table goes through
    :func:`_assign_row_ids_init`, which parallelizes per bucket."""
    base = F.lit(ver_num * _ROW_ID_STRIDE).cast("long")
    # constant-0 partition that survives constant folding (the sparkutil
    # const_part trick, inlined — the batch is the bounded update side)
    s = F.length(F.coalesce(F.col(key).cast("string"), F.lit("")))
    w = Window.partitionBy(
        F.col(_ROW_ID).isNull() if _ROW_ID in df.columns else (s - s)
    ).orderBy(key)
    rank = F.row_number().over(w).cast("long")
    if _ROW_ID in df.columns:
        return df.withColumn(_ROW_ID, F.coalesce(F.col(_ROW_ID), base + rank))
    return df.withColumn(_ROW_ID, base + rank)


def _assign_row_ids_init(
    df: DataFrame, key: str, ver_num: int, n_buckets: int
) -> DataFrame:
    """Parallel id mint for the FULL initial table (the one unbounded
    batch): ``(ver_num << 40) + mint_bucket·capacity + rank-of-key
    within the mint bucket``, where capacity = (1 << 40) // n_buckets.
    The window partitions by the mint bucket, so the one-time stamp runs
    one task per bucket instead of funneling every row through a single
    global-window task — and needs no counting pre-pass (a
    cumulative-offset scheme would re-scan the table once just to make
    ids dense).  Ids stay unique and deterministic: ranks order by key,
    and a bucket that overflows its 2^40/n_buckets id capacity fails
    loudly instead of colliding into the next bucket's range.

    The mint bucket is md5-derived (``int(md5(key)[:8], 16) % n``)
    rather than the store's xxhash64 layout bucket ON PURPOSE: md5 is
    the repo's engine-portable randomness idiom, so an oracle can replay
    the exact minted ids in ANSI SQL (xxhash64 is Spark-only).  Any
    deterministic uniform partition serves the parallelism goal
    equally."""
    capacity = _ROW_ID_STRIDE // n_buckets
    b = (
        F.conv(
            F.substring(F.md5(F.col(key).cast("string").cast("binary")), 1, 8),
            16,
            10,
        ).cast("long")
        % n_buckets
    )
    w = Window.partitionBy(b).orderBy(key)
    rank = F.row_number().over(w).cast("long")
    guarded = F.when(
        rank <= F.lit(capacity),
        F.lit(ver_num * _ROW_ID_STRIDE).cast("long")
        + b.cast("long") * F.lit(capacity)
        + rank,
    ).otherwise(
        F.raise_error(
            F.lit(
                f"row-tracking init: bucket exceeds {capacity} rows; "
                "raise n_buckets or init in batches"
            )
        ).cast("long")
    )
    return df.withColumn(_ROW_ID, guarded)


def init_table(
    df: DataFrame,
    root: str,
    key: str | None = None,
    n_buckets: int = DEFAULT_BUCKETS,
    row_tracking: bool = False,
) -> str:
    """Create version 0.  With ``key``: hash-bucketed layout on that column
    (mutations rewrite only touched buckets).  Without: legacy flat layout
    (mutations are full rewrites).

    ``row_tracking=True`` (bucketed tables only) assigns every row a
    stable ``_row_id`` in the committing version's (commit version << 40)
    namespace — bounded update batches rank by key; the initial table
    mints per bucket (bucket · capacity + in-bucket rank-by-key, one
    window task per bucket — no global funnel) — stored as a
    physical-only column: inherited by
    key on upsert/merge updates, carried verbatim through compaction /
    clustering / rebucket, retired by DELETE, and REISSUED on
    re-insert-after-delete (a new row identity, the Delta row-tracking
    contract).  Plain readers never see it; ``read_current(...,
    with_row_ids=True)`` surfaces it.  Mutations on row-tracking tables
    always commit fail-fast: ids embed the commit version, which a
    compute-first rebase does not know until after staging."""
    if row_tracking and key is None:
        raise ValueError("row_tracking requires a bucketed (keyed) table")
    meta = {
        "key": key,
        "n_buckets": None if key is None else n_buckets,
        "schema": df.schema.json(),
        "added": [],
    }
    if row_tracking:
        meta["row_tracking"] = True

    def stage(ver: str) -> str:
        _write_meta(root, meta)
        dest = os.path.join(root, ver)
        if key is None:
            df.write.mode("errorifexists").parquet(os.path.join(dest, "data"))
        else:
            rows = _assign_row_ids_init(df, key, 0, n_buckets) if row_tracking else df
            _write_buckets(rows.withColumn(_BUCKET, _bucket_expr(key, n_buckets)), meta, dest)
        _write_manifest(root, ver, _written_buckets(root, ver))
        return "*"

    return _claim_first(root, "init", stage)[0]


def _dedupe_updates(updates: DataFrame, key: str, order_col: str | None) -> DataFrame:
    """Duplicate keys *within* the update batch resolve to the last writer:
    highest ``order_col`` if given, else an arbitrary-but-deterministic max
    over the remaining columns (mirrors the reference's last-save-wins
    document semantics; a key-only frame needs no tie-break at all)."""
    non_key = [c for c in updates.columns if c != key]
    if order_col is not None:
        order = F.desc(order_col)
    elif non_key:
        order = F.desc(F.struct(*non_key))
    else:
        order = F.asc(key)  # key-only rows are identical; any order dedupes
    w = Window.partitionBy(key).orderBy(order)
    return (
        updates.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def upsert(
    spark: SparkSession,
    root: str,
    updates: DataFrame,
    key: str = "_id",
    order_col: str | None = None,
    occ: str = "failfast",
) -> str:
    """MERGE ``updates`` into the current version (insert-or-replace by
    ``key``); returns the new version name.  On a bucketed table only the
    buckets containing update keys are read, anti-joined, and rewritten —
    every other bucket is carried forward by manifest reference.

    ``occ`` picks the commit protocol (module docstring): ``"failfast"``
    (default) is cheapest when conflicts are likely to be logical
    (overlapping keys); under ``"rebase"`` two writers upserting disjoint
    keys both commit with zero recompute."""
    _check_occ(occ)
    return _upsert(
        spark, root, updates, key, order_col, occ, _read_meta(root), current_version(root)
    )


def _upsert(
    spark: SparkSession,
    root: str,
    updates: DataFrame,
    key: str,
    order_col: str | None,
    occ: str,
    meta: dict,
    snapshot: str | None,
) -> str:
    """:func:`upsert` planned against an explicit ``meta`` / ``snapshot``
    pair (a rebase commit on top of a stale snapshot)."""
    if meta["key"] is not None and meta["key"] != key:
        raise ValueError(
            f"table is bucketed on {meta['key']!r}, upsert keyed on {key!r}"
        )
    # evolved columns a batch omits are filled with their recorded default
    # (the write-side half of the add_column contract)
    if meta.get("added") and meta["schema"]:
        schema = T.StructType.fromJson(json.loads(meta["schema"]))
        for col in meta["added"]:
            if col["name"] not in updates.columns:
                updates = updates.withColumn(
                    col["name"], _fill_expr(col, schema[col["name"]].dataType)
                )
            elif col.get("expr") is not None:
                _check_generated(updates, col, schema, "upsert")
        updates = updates.select(*[f.name for f in schema.fields])
    # materialize the deduped batch ONCE: the constraint probes, the
    # touched-bucket collect, the broadcast-gate count and the final write
    # each run an action over this subtree (window dedup + the caller's
    # upstream plan) — without the checkpoint a trickle upsert recomputes
    # it 3-4x; a bulk batch pays one extra batch-sized materialization and
    # still saves the repeated dedup shuffle.  lineage_cut = reliable
    # checkpoint on clusters: the commit path must survive executor loss
    # (ADVICE r12 — localCheckpoint blocks are non-replayable).  A
    # constraint-violating batch pays this materialization before being
    # rejected — deliberate: constraints are the rare path, and probing
    # them pre-cut would re-run the dedup window once per probe on every
    # healthy commit instead
    deduped = lineage_cut(_dedupe_updates(updates, key, order_col), eager=True)
    _check_constraints(deduped, meta, "upsert")
    if meta["key"] is None:

        def rewrite_flat(snap, dest, _ver_num):
            merged = deduped
            if snap is not None:
                keys = deduped.select(key)
                if keys.count() <= 1_000_000:
                    keys = F.broadcast(keys)
                base = _read_paths(spark, root, meta, _read_manifest(root, snap))
                merged = base.join(keys, key, "left_anti").unionByName(deduped)
            _to_physical(merged, meta).write.mode("errorifexists").parquet(
                os.path.join(dest, "data")
            )
            return "*"

        return _commit_data(root, "upsert", meta, snapshot, rewrite_flat, rebase=False)[0]

    n_buckets = meta["n_buckets"]
    row_tracking = bool(meta.get("row_tracking"))
    batch = deduped.withColumn(_BUCKET, _bucket_expr(key, n_buckets))
    # ONE action yields both commit decisions: the touched-bucket set AND
    # the broadcast-gate key count (post-dedup rows are unique by key, so
    # the row total IS the key count) — pure fixed cost on trickle commits
    # (streaming sinks, OLTP saves), so never two jobs.  Neither depends
    # on the snapshot, so a fail-fast writer runs it before claiming.
    bucket_rows = batch.groupBy(_BUCKET).agg(F.count(F.lit(1)).alias("n")).collect()
    touched = sorted(str(r[_BUCKET]) for r in bucket_rows)
    n_update_keys = sum(r["n"] for r in bucket_rows)

    def rewrite(snap, dest, ver_num):
        manifest = _read_manifest(root, snap) if snap is not None else {}
        base_map = {b: manifest[b] for b in touched if b in manifest}
        rows = batch
        if not base_map:
            merged = _assign_row_ids(rows, key, ver_num) if row_tracking else rows
        else:
            # pending deletion vectors on the touched buckets are applied
            # here and cleared at commit: the rewrite MATERIALIZES them
            # (and a re-inserted key genuinely resurrects)
            base = _apply_dv(
                spark, root, _read_paths(spark, root, meta, base_map, row_ids=True),
                meta, _read_dv(root, snap), buckets=touched,
            )
            if row_tracking:
                # updates INHERIT the matched key's id (stable identity
                # across updates); only genuinely new keys mint ids
                rows = _assign_row_ids(
                    rows.join(base.select(key, _ROW_ID), key, "left"), key, ver_num
                )
            keys = rows.select(key)
            # The common case is a trickle of saves against a huge base,
            # where broadcasting the key set skips shuffling the base
            # entirely.  A big batch must NOT be forced driver-side, so the
            # hint is size-gated; above the threshold AQE picks the strategy
            # from runtime stats.
            if n_update_keys <= 1_000_000:
                keys = F.broadcast(keys)
            merged = base.join(keys, key, "left_anti").withColumn(
                _BUCKET, _bucket_expr(key, n_buckets)
            ).unionByName(rows)
        _write_buckets(merged, meta, dest)
        return touched

    # row-tracking ids embed the commit version, unknown until the claim —
    # mutations on those tables always commit fail-fast
    rebase = occ == "rebase" and snapshot is not None and not row_tracking
    return _commit_data(root, "upsert", meta, snapshot, rewrite, rebase)[0]


def compact(
    spark: SparkSession,
    root: str,
    max_files_per_bucket: int = 1,
    target_bytes: int = 128 << 20,
    occ: str = "failfast",
    cluster_by: str | None = None,
) -> tuple[str, list[str]]:
    """Small-file compaction — the maintenance half of copy-on-write:
    repeated trickle upserts leave each touched bucket with one part file
    per merge (the classic small-file problem; at 100 TB a hot bucket
    accretes thousands of footer-read-dominated files).  ``compact``
    rewrites ONLY buckets whose file count exceeds their target
    (``max(max_files_per_bucket, ceil(bytes / target_bytes))``) into
    right-sized files and carries every other bucket forward by manifest
    reference — the same partition-scoped posture as ``upsert``.

    One Spark job regardless of how many buckets compact: the touched
    buckets are read together, re-keyed, and hash-repartitioned on
    (bucket, slice) — slice splits buckets that are larger than
    ``target_bytes`` into multiple right-sized files; 1-file buckets get
    slice 0.  ``partitionBy`` then lands each bucket's rows in its own
    dir with exactly its target file count.  Content is bit-identical by
    construction (pure re-layout, no filter/agg), returns
    ``(new_version, compacted_bucket_ids)``; no-op (no fragmented
    buckets) returns the current version and ``[]``.

    ``occ`` (module docstring): under ``"rebase"`` compaction's commit
    check is per bucket — it is content-preserving, so a bucket commits
    iff nobody rewrote it (or changed its vectors) since the snapshot.
    Buckets that lost that race are SKIPPED, not conflicted: the newer
    writer's files stay and every still-valid bucket commits.  A long
    compaction therefore neither blocks concurrent writers (no claim is
    held during the Spark job) nor redoes work when one of its buckets
    is overwritten mid-flight.  Only schema/layout evolution (fingerprint
    change) discards the whole staged set.

    ``cluster_by``: liquid-clustering-lite (the Delta OPTIMIZE ZORDER /
    data-skipping shape).  Instead of the hash slice, each compacted
    bucket's rows are RANGE-sliced by the named column (``ntile`` over a
    per-bucket sort) and sorted within every output file, and the
    per-file [min, max] of that column — read from the parquet FOOTERS
    the write just produced, no data pass — is recorded in a
    ``_stats.json`` sidecar next to the version's manifest.
    :func:`read_where` then prunes whole files at PLANNING time: at
    100 TB the win isn't the row-group skip (Spark's scan already does
    that from footers) — it's never listing, opening, or scheduling
    tasks for the pruned files at all, which is why Delta keeps stats in
    the log rather than relying on footers."""
    _check_occ(occ)
    meta = _read_meta(root)
    cur = current_version(root)
    if cur is None:
        raise ValueError(f"no current version under {root}")
    if meta["key"] is None:
        raise ValueError("compact requires a bucketed table (init_table with key)")

    def plan_at(snap: str) -> dict[str, int]:
        return _compact_plan(
            root, _read_manifest(root, snap), max_files_per_bucket, target_bytes
        )

    if not plan_at(cur):
        return cur, []
    return _compact(spark, root, meta, cur, plan_at, occ, cluster_by)


def _compact(
    spark: SparkSession,
    root: str,
    meta: dict,
    snapshot: str,
    plan_at,
    occ: str,
    cluster_by: str | None = None,
) -> tuple[str, list[str]]:
    """:func:`compact` against an explicit ``meta`` / ``snapshot`` pair;
    ``plan_at(snap)`` names the buckets to rewrite at a snapshot and their
    target file counts."""
    phys_cluster = None if cluster_by is None else _phys_name(meta, cluster_by)

    def rewrite(snap, dest, _ver_num):
        plan = plan_at(snap)
        if not plan:
            return None
        _compact_write(
            spark, root, meta, _read_manifest(root, snap), plan, dest, cluster_by,
            dv=_read_dv(root, snap),
        )
        if phys_cluster is not None:
            # footers carry PHYSICAL names; key the sidecar by physical too
            # so read_where keeps skipping across later renames
            _record_stats(dest, phys_cluster)
        return sorted(plan)

    def skip_rewritten(root, snapshot, cur, ver, touched):
        # a staged re-layout of bucket b is committable iff b still points
        # at the files we compacted AND its deletion-vector set is
        # unchanged — an intervening delete_dv on b would be silently
        # UNDONE by committing files that materialized the older vectors
        man, dv = _read_manifest(root, snapshot), _read_dv(root, snapshot)
        man2, dv2 = _read_manifest(root, cur), _read_dv(root, cur)
        valid = [b for b in touched if man2.get(b) == man.get(b) and dv2.get(b) == dv.get(b)]
        if valid and len(valid) < len(touched):
            dest = os.path.join(root, ver)
            for b in set(touched) - set(valid):
                shutil.rmtree(os.path.join(dest, f"{_BUCKET}={b}"), ignore_errors=True)
            if phys_cluster is not None:
                _record_stats(dest, phys_cluster)
        return valid or None

    return _commit_data(
        root, "compact", meta, snapshot, rewrite, occ == "rebase", check=skip_rewritten
    )


def _compact_plan(
    root: str,
    manifest: dict[str, str],
    max_files_per_bucket: int,
    target_bytes: int,
) -> dict[str, int]:
    """Buckets whose file count exceeds their size-derived target —
    metadata-only (os.listdir per bucket dir, no data read)."""
    plan: dict[str, int] = {}  # bucket -> n target files
    for b, rel in manifest.items():
        d = os.path.join(root, rel)
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        nbytes = sum(os.path.getsize(os.path.join(d, f)) for f in files)
        n_target = max(max_files_per_bucket, -(-nbytes // target_bytes))
        if len(files) > n_target:
            plan[b] = int(n_target)
    return plan


def _compact_write(
    spark: SparkSession,
    root: str,
    meta: dict,
    manifest: dict[str, str],
    plan: dict[str, int],
    dest: str,
    cluster_by: str | None = None,
    dv: dict[str, list[str]] | None = None,
) -> None:
    """One Spark job writing every planned bucket's right-sized files to
    ``dest`` (a version dir or a rebase staging dir).  With ``cluster_by``
    the slice is a per-bucket RANGE (ntile over the cluster column) and
    rows are sorted within output files, so file-level [min, max] stats
    are tight; without it, a content-hash slice (no clustering claim)."""
    W = Window
    base_map = {b: manifest[b] for b in plan}
    df = _read_paths(spark, root, meta, base_map, row_ids=True)
    # compaction MATERIALIZES pending deletion vectors for the buckets it
    # rewrites (the Delta "purge" half of merge-on-read); the commit paths
    # clear the applied buckets' vectors
    df = _apply_dv(spark, root, df, meta, dv, buckets=list(plan)).withColumn(
        _BUCKET, _bucket_expr(meta["key"], meta["n_buckets"])
    )
    slice_of = {}
    for b, n_target in plan.items():
        if n_target > 1:
            if cluster_by is not None:
                slice_of[b] = F.ntile(int(n_target)).over(
                    W.partitionBy(_BUCKET).orderBy(cluster_by, meta["key"])
                )
            else:
                slice_of[b] = F.pmod(
                    F.xxhash64(F.col(meta["key"]), F.lit(1)), F.lit(n_target)
                )
    slice_expr = F.lit(0)
    for b, expr in slice_of.items():
        slice_expr = F.when(F.col(_BUCKET) == int(b), expr).otherwise(slice_expr)
    out = (
        df.withColumn("__slice", slice_expr)
        .repartition(sum(plan.values()), _BUCKET, "__slice")
        .drop("__slice")
    )
    if cluster_by is not None:
        out = out.sortWithinPartitions(cluster_by)
    _write_buckets(out, meta, dest)


def delete_where(
    spark: SparkSession, root: str, condition, occ: str = "failfast"
) -> str:
    """Delete rows matching ``condition`` (a Column) by rewriting the
    survivors of the buckets that contain matching rows into the next
    version (legacy flat tables rewrite in full).  Returns the new version,
    or the current one when nothing matched.

    SQL DELETE semantics: only rows where the predicate is TRUE are removed.
    A bare ``filter(~condition)`` would also drop NULL-predicate rows (e.g. a
    comparison against a NULL column), so NULL is coalesced to "keep".

    ``occ`` picks the commit protocol (module docstring).  DELETE's read
    set is the whole predicate scan, not just its write set, so under
    ``"rebase"`` bucket-disjointness alone is not sufficient: an
    intervening bucket-disjoint upsert may have inserted/updated rows the
    predicate MATCHES, which the serial order "theirs, then ours" would
    delete.  The commit therefore re-evaluates the predicate over ONLY the
    intervening writers' written files (bounded by their write sets, never
    a table rescan); zero matches proves the staged survivors equal the
    serial result, any match raises :class:`CommitConflict` for the
    whole-closure retry."""
    _check_occ(occ)
    return _delete_where(
        spark, root, condition, occ, _read_meta(root), current_version(root)
    )


def _delete_where(
    spark: SparkSession,
    root: str,
    condition,
    occ: str,
    meta: dict,
    snapshot: str | None,
) -> str:
    """:func:`delete_where` against an explicit ``meta`` / ``snapshot``
    pair (a rebase commit on top of a stale snapshot)."""
    if snapshot is None:
        raise ValueError(f"no current version under {root}")
    doomed = F.coalesce(condition, F.lit(False))
    key = meta["key"]

    def rewrite(snap, dest, _ver_num):
        manifest = _read_manifest(root, snap)
        if key is None:
            base = _read_paths(spark, root, meta, manifest)
            _to_physical(base.filter(~doomed), meta).write.mode(
                "errorifexists"
            ).parquet(os.path.join(dest, "data"))
            return "*"
        n_buckets = meta["n_buckets"]
        dv = _read_dv(root, snap)
        full = _apply_dv(
            spark, root, _read_paths(spark, root, meta, manifest), meta, dv
        ).withColumn(_BUCKET, _bucket_expr(key, n_buckets))
        # one pushdown-friendly scan to find which buckets hold doomed rows
        touched = sorted(
            str(r[_BUCKET])
            for r in full.filter(doomed).select(_BUCKET).distinct().collect()
        )
        if not touched:
            return None
        base_map = {b: manifest[b] for b in touched if b in manifest}
        base = _apply_dv(
            spark, root, _read_paths(spark, root, meta, base_map, row_ids=True),
            meta, dv, buckets=touched,
        )
        _write_buckets(
            base.filter(~doomed).withColumn(_BUCKET, _bucket_expr(key, n_buckets)),
            meta, dest,
        )  # survivors only: a bucket that empties out leaves the manifest
        return touched

    def unmatched_since(root, snapshot, cur, ver, touched):
        _check_serializable(root, snapshot, cur, ver, touched)
        # re-evaluate the predicate over ONLY the files the intervening
        # writers wrote.  Compactions are skipped: they re-lay out rows the
        # snapshot scan already saw and judged.
        paths: dict[str, str] = {}
        for n in range(int(snapshot.split("_")[1]) + 1, int(cur.split("_")[1]) + 1):
            v = _version_name(n)
            if (_read_commit(root, v) or {}).get("op") in _CONTENT_PRESERVING_OPS:
                continue
            paths.update({f"{v}:{b}": rel for b, rel in _written_buckets(root, v).items()})
        if paths and _read_paths(spark, root, meta, paths).filter(doomed).limit(1).count() > 0:
            raise CommitConflict(
                root, ver,
                "an intervening writer added rows matching the DELETE "
                "predicate; the staged survivors are not the serial result",
            )
        return touched

    rebase = occ == "rebase" and key is not None
    return _commit_data(
        root, "delete", meta, snapshot, rewrite, rebase, check=unmatched_since
    )[0]


def delete_where_dv(spark: SparkSession, root: str, condition) -> str:
    """Merge-on-read DELETE via deletion vectors — the Delta/Iceberg v2
    answer to "delete 3 rows from a 1 GB file without rewriting it":
    instead of rewriting survivor buckets (:func:`delete_where`'s
    copy-on-write), record the DOOMED KEYS per bucket in a small parquet
    sidecar and have every reader anti-join them out.  At 100 TB this
    turns a trickle of GDPR/erasure deletes from a bucket-rewrite storm
    into one predicate scan plus a KB-scale write; ``compact`` later
    materializes pending vectors (applies + clears them) during the
    maintenance window, restoring zero-overhead reads.

    Key-based vectors (this table's bucket key is unique by upsert
    semantics), not position-based bitmaps: Spark's parquet scan exposes
    no stable row position without row tracking, and the key anti-join
    is bucket-local under the table's own layout.  Fail-fast claim
    protocol — the op holds its claim across one pushdown-friendly scan
    and a sidecar write, the cheapest claim window in the module.

    Readers (:func:`read_current` / :func:`read_version` /
    :func:`read_point` / :func:`read_where` / time travel) all apply
    pending vectors; every bucket-rewriting mutation applies-on-read and
    clears-on-commit, so a later upsert re-inserting a deleted key
    genuinely resurrects it.  Returns the new version (or the current
    one when nothing matched)."""
    meta = _read_meta(root)
    if meta.get("key") is None:
        raise ValueError("delete_where_dv requires a bucketed table")
    if current_version(root) is None:
        raise ValueError(f"no current version under {root}")

    def stage(ver: str):
        snap = _claim_base(ver)  # re-base the snapshot under the claim
        _recheck_meta(root, ver, meta)  # conflict out on mid-gap meta evolution
        # the predicate runs over the DV-APPLIED view: rows already
        # vector-deleted are invisible, so re-deleting them is a no-op
        # rather than a duplicate vector entry
        base = read_current(spark, root)
        # the sidecar stores the key under its PHYSICAL name so it stays
        # readable across later renames (like the data files themselves)
        phys_key = _phys_name(meta, meta["key"])
        doomed = (
            base.filter(F.coalesce(condition, F.lit(False)))
            .select(F.col(meta["key"]).alias(phys_key))
            .withColumn(_BUCKET, _bucket_expr(phys_key, meta["n_buckets"]))
        )
        dv_dir = os.path.join(root, ver, "dv")
        doomed.write.mode("errorifexists").partitionBy(_BUCKET).parquet(dv_dir)
        touched = sorted(
            d.split("=", 1)[1]
            for d in os.listdir(dv_dir)
            if d.startswith(_BUCKET + "=")
        )
        if not touched:
            return None
        # data files carry forward untouched — that is the whole point
        _write_manifest(root, ver, _read_manifest(root, snap))
        dv = _read_dv(root, snap)
        for b in touched:
            dv.setdefault(b, []).append(f"{ver}/dv/{_BUCKET}={b}")
        _write_dv(root, ver, dv)
        return touched

    return _claim_first(root, "delete_dv", stage)[0]


def merge_into(
    spark: SparkSession,
    root: str,
    source: DataFrame,
    when_matched_set: dict[str, str] | None = None,
    when_matched_delete: str | None = None,
    insert_not_matched: bool = True,
    occ: str = "failfast",
    schema_evolution: bool = False,
) -> str | None:
    """Full MERGE INTO semantics (the Delta/Iceberg statement) on the CoW
    table — ``upsert`` is the replace-whole-row special case; this form
    supports per-column UPDATE expressions, conditional DELETE, and
    optional insert suppression:

    - ``when_matched_set``: {target_col: SQL expr} evaluated with the
      target row in scope and the source row's columns as ``src_<col>``
      (e.g. ``{"rev": "rev + 1", "name": "src_name"}``).
    - ``when_matched_delete``: SQL predicate (same scope); matched rows
      satisfying it are dropped.  Checked BEFORE the update clause, like
      the SQL statement's clause ordering.
    - ``insert_not_matched``: insert source rows with no target match.

    Bucket-scoped like ``upsert``: only buckets containing source keys
    are read and rewritten; the matched/not-matched split is ONE
    full-outer-shaped pass (left join target←source inside the touched
    buckets + anti join for inserts), never a second scan.

    ``occ`` picks the commit protocol (module docstring).  MERGE's read
    AND write sets are both exactly the source keys' buckets, so under
    ``"rebase"`` the bucket-overlap test is its full serializability
    condition.

    ``schema_evolution=True`` is the Delta ``mergeSchema`` behavior:
    source columns absent from the target schema are AUTO-ADDED through
    the existing :func:`add_column` claim protocol before the merge runs
    — each lands as its own claim-serialized metadata-only version with
    a NULL version-fenced default, so every pre-existing file reads NULL
    for the new column while the merge's own rows carry their values.
    Because it rides the standard protocol, the concurrency story is
    inherited, not special-cased: a concurrent rebase writer conflicts
    on the meta fingerprint, a fail-fast writer on its post-claim
    :func:`_recheck_meta`, and a source column matching a DROPPED name
    reincarnates under add_column's version fence (old bytes can never
    resurrect).  Default False — extra source columns are projected away
    (the target schema is authoritative); the table only widens when the
    caller asks for it.

    Returns the committed version name; a no-op merge (nothing matched,
    ``insert_not_matched=False``) returns the CURRENT version unchanged,
    which is ``None`` on a still-empty table — callers that parse or
    version-compare the return must handle that one case."""
    _check_occ(occ)
    meta = _read_meta(root)
    if meta["key"] is None:
        raise ValueError("merge_into requires a bucketed table")
    if schema_evolution:
        existing = set(
            T.StructType.fromJson(json.loads(meta["schema"])).fieldNames()
        )
        evolved = False
        for f in source.schema.fields:
            if f.name not in existing and f.name != _BUCKET:
                add_column(root, f.name, f.dataType, None)
                evolved = True
        if evolved:
            meta = _read_meta(root)  # the merge below plans against the
            # evolved schema; its own commit re-serializes normally
    key = meta["key"]
    schema = T.StructType.fromJson(json.loads(meta["schema"]))
    cols = [f.name for f in schema.fields]
    gen_cols = {
        c["name"]: c
        for c in (meta.get("added") or [])
        if c.get("expr") is not None
    }
    if when_matched_set and set(when_matched_set) & set(gen_cols):
        raise ValueError(
            "cannot SET a generated column "
            f"{sorted(set(when_matched_set) & set(gen_cols))} — it is "
            "recomputed from its expression on every update"
        )
    if meta.get("added"):
        for col in meta["added"]:
            if col["name"] not in source.columns:
                source = source.withColumn(
                    col["name"], _fill_expr(col, schema[col["name"]].dataType)
                )
            elif col.get("expr") is not None:
                _check_generated(source, col, schema, "merge")
    # materialized once: the touched-bucket collect, the broadcast build,
    # the insert anti-join, the constraint probe and the final write all
    # action over this subtree (same rationale as upsert's checkpoint,
    # including the cluster-mode reliable-cut switch)
    src = lineage_cut(
        _dedupe_updates(source.select(*cols), key, None), eager=True
    )
    src_pref = src.select(
        F.col(key).alias("__src_key"),
        *[F.col(c).alias(f"src_{c}") for c in cols],  # incl. src_<key>
        F.lit(True).alias("__src_present"),
    )
    n_buckets = meta["n_buckets"]
    touched = sorted(
        str(r[_BUCKET])
        for r in src.select(key)
        .withColumn(_BUCKET, _bucket_expr(key, n_buckets))
        .select(_BUCKET)
        .distinct()
        .collect()
    )
    row_tracking = bool(meta.get("row_tracking"))
    carry = [_ROW_ID] if row_tracking else []

    def rewrite(snap, dest, ver_num):
        manifest = _read_manifest(root, snap) if snap is not None else {}
        base_map = {b: manifest[b] for b in touched if b in manifest}
        parts = []
        new_rows = None
        if base_map:
            base = _apply_dv(
                spark, root, _read_paths(spark, root, meta, base_map, row_ids=True),
                meta, _read_dv(root, snap), buckets=touched,
            )
            joined = base.join(
                F.broadcast(src_pref), base[key] == src_pref["__src_key"], "left"
            )
            matched = joined.filter(F.col("__src_present").isNotNull())
            unmatched_target = joined.filter(F.col("__src_present").isNull()).select(
                *cols, *carry
            )
            if when_matched_delete is not None:
                matched = matched.filter(
                    ~F.coalesce(F.expr(when_matched_delete), F.lit(False))
                )
            if when_matched_set:
                updated = matched.select(
                    *[
                        F.expr(when_matched_set[c]).cast(schema[c].dataType).alias(c)
                        if c in when_matched_set
                        else F.col(c)
                        for c in cols
                    ],
                    *carry,  # updates keep the target row's stable id
                )
                # generated columns re-derive from the POST-update base values
                # (a second step — the select above still sees pre-update rows)
                for name, col in gen_cols.items():
                    updated = updated.withColumn(
                        name, F.expr(col["expr"]).cast(schema[name].dataType)
                    )
            else:  # matched rows kept as-is (MERGE with only DELETE/INSERT clauses)
                updated = matched.select(*cols, *carry)
            parts += [unmatched_target, updated]
            new_rows = updated  # unmatched_target rows are carried unchanged —
            # they satisfied the constraints when THEY were written
            if insert_not_matched:
                inserts = src.join(base.select(key), key, "left_anti")
                if row_tracking:
                    inserts = _assign_row_ids(inserts, key, ver_num)
                parts.append(inserts)
                new_rows = new_rows.unionByName(inserts)
        elif insert_not_matched:
            new_rows = _assign_row_ids(src, key, ver_num) if row_tracking else src
            parts.append(new_rows)
        if not parts:
            return None  # nothing to do
        if new_rows is not None:
            _check_constraints(new_rows, meta, "merge")
        merged = parts[0]
        for p in parts[1:]:
            merged = merged.unionByName(p)
        _write_buckets(merged.withColumn(_BUCKET, _bucket_expr(key, n_buckets)), meta, dest)
        return touched

    snapshot = current_version(root)
    # row-tracking ids embed the commit version, unknown until the claim —
    # mutations on those tables always commit fail-fast
    rebase = occ == "rebase" and snapshot is not None and not row_tracking
    return _commit_data(root, "merge", meta, snapshot, rewrite, rebase)[0]


def vacuum(root: str, keep_last: int = 1) -> list[str]:
    """Delete version directories no longer referenced — the Delta VACUUM
    analog.  A version dir is retained iff it is one of the ``keep_last``
    most recent versions, OR a tag points at it, OR any retained
    version's manifest still points into it (structural sharing means old dirs stay live as long as an
    untouched bucket references them).  Returns the removed dir names.

    Time-travel reads older than the retention window break after a
    vacuum, exactly like Delta; readers that pinned a manifest keep
    working for dirs that survived."""
    import shutil

    cur = current_version(root)
    if cur is None:
        return []
    n_cur = int(cur.split("_")[1])
    versions = sorted(
        d for d in os.listdir(root)
        if d.startswith("v_") and os.path.isdir(os.path.join(root, d))
    )
    retained = {v for v in versions if int(v.split("_")[1]) > n_cur - keep_last}
    tag_dir = os.path.join(root, "_tags")
    if os.path.isdir(tag_dir):
        for t in os.listdir(tag_dir):
            if not t.startswith("."):
                with open(os.path.join(tag_dir, t)) as fh:
                    retained.add(fh.read().strip())
    live: set[str] = set(retained)
    for v in retained:
        for rel in _read_manifest(root, v).values():
            live.add(rel.split("/", 1)[0])
        for rels in _read_dv(root, v).values():
            for rel in rels:  # deletion-vector files pin their writer dir
                if os.path.isabs(rel):
                    continue  # shallow-clone reference into the SOURCE
                    # table — local retention cannot protect it (same
                    # hazard as the clone's data files; see shallow_clone)
                live.add(rel.split("/", 1)[0])
    removed = []
    ts_by_ver = {}
    for v in versions:
        if v not in live:
            ts_by_ver[v] = _commit_ts(root, v)
            shutil.rmtree(os.path.join(root, v))
            removed.append(v)
    _record_tombstones(root, ts_by_ver)
    return removed


def vacuum_retention(
    root: str, retention_s: float, now: float | None = None, force: bool = False
) -> dict:
    """Time-based VACUUM + orphan GC — the ``VACUUM ... RETAIN n HOURS``
    operational contract a shared 100 TB table needs (count-based
    :func:`vacuum` keeps the N newest versions regardless of age; a real
    deployment reasons in wall-clock: "time travel works for 7 days").

    A COMMITTED version dir (number ≤ the current pointer) is retained iff
    any of:

    - it IS the current version;
    - its commit time (:func:`_commit_ts` — the commit record's ``ts``,
      the SAME clock :func:`read_as_of` travels on, so a version AS-OF
      says is within the window is never GC'd) is within the window;
    - a tag points at it;
    - any retained version's manifest references into it (structural
      sharing keeps an old dir live as long as one untouched bucket of a
      retained version still points there).

    Orphan GC collects crashed-writer leftovers — claimed-but-never-
    committed version dirs (number ABOVE the pointer) with their claim
    files, orphaned claim/stale-takeover/tmp marker files, and abandoned
    ``_staging`` dirs from the rebase commit path — but ONLY when they are
    older than the window.  That age gate is the crash-safety contract:
    an IN-FLIGHT writer's claim, staged dir, or half-written version is
    never touched while younger than ``retention_s``, so the window must
    exceed the longest-running commit (Delta documents the same
    constraint for its 7-day default) — and it is ENFORCED, not just
    documented: ``retention_s < CLAIM_TTL_S`` raises unless ``force=True``
    (the ``retentionDurationCheck`` analog; a live claim younger than its
    TTL is by definition a possibly-alive writer, so a shorter window
    would let the GC delete an in-flight commit's files).  Even under
    ``force``, a claim/staged dir younger than :data:`CLAIM_TTL_S` is
    never collected.

    ``now`` is injectable for deterministic tests.  Returns
    ``{"removed": [committed version dirs], "retained": [...],
    "orphans_removed": [names relative to root]}``, each sorted."""
    import shutil

    if retention_s < CLAIM_TTL_S and not force:
        raise ValueError(
            f"retention_s={retention_s} is below CLAIM_TTL_S={CLAIM_TTL_S}: "
            "the window must exceed the longest-running commit or the GC can "
            "delete an in-flight writer's files; pass force=True to override"
        )
    now = time.time() if now is None else now
    cutoff = now - retention_s
    # orphan GC (claims / staged dirs / half-written versions) additionally
    # floors at the claim TTL even under force: anything younger might be a
    # live writer
    orphan_cutoff = min(cutoff, now - CLAIM_TTL_S)
    cur = current_version(root)
    n_cur = -1 if cur is None else int(cur.split("_")[1])
    entries = os.listdir(root)
    versions = sorted(
        d
        for d in entries
        if d.startswith("v_") and os.path.isdir(os.path.join(root, d))
    )
    committed = [v for v in versions if int(v.split("_")[1]) <= n_cur]
    uncommitted = [v for v in versions if int(v.split("_")[1]) > n_cur]

    retained = {v for v in committed if v == cur or _commit_ts(root, v) >= cutoff}
    tag_dir = os.path.join(root, "_tags")
    if os.path.isdir(tag_dir):
        for t in os.listdir(tag_dir):
            if not t.startswith("."):
                with open(os.path.join(tag_dir, t)) as fh:
                    retained.add(fh.read().strip())
    live: set[str] = set(retained)
    for v in sorted(retained):
        if v in committed:
            for rel in _read_manifest(root, v).values():
                live.add(rel.split("/", 1)[0])
            for rels in _read_dv(root, v).values():
                for rel in rels:  # deletion-vector files pin their writer dir
                    if os.path.isabs(rel):
                        continue  # shallow-clone reference into the SOURCE
                        # table — local retention cannot protect it
                    live.add(rel.split("/", 1)[0])

    removed, orphans = [], []
    ts_by_ver = {}
    for v in committed:
        if v not in live:
            ts_by_ver[v] = _commit_ts(root, v)
            shutil.rmtree(os.path.join(root, v))
            removed.append(v)
    _record_tombstones(root, ts_by_ver)
    for v in uncommitted:
        # newest trace wins: a writer touching EITHER the dir or its claim
        # within the window is presumed alive
        stamps = [os.path.getmtime(os.path.join(root, v))]
        claim = _claim_path(root, v)
        try:
            stamps.append(os.path.getmtime(claim))
        except FileNotFoundError:
            pass
        if max(stamps) < orphan_cutoff:
            shutil.rmtree(os.path.join(root, v))
            try:
                os.unlink(claim)
            except FileNotFoundError:
                pass
            orphans.append(v)
    for f in entries:
        path = os.path.join(root, f)
        if not os.path.isfile(path):
            continue
        is_marker = (
            # a claim for a committed version is released at flip, so a
            # surviving one is dead; a claim ABOVE the pointer with no
            # version dir is a writer that crashed before its first write
            # (with a dir, the uncommitted-dir loop above owns both)
            (
                f.endswith(".claim")
                and (
                    int(f.split(".")[0].split("_")[1]) <= n_cur
                    or not os.path.isdir(os.path.join(root, f[: -len(".claim")]))
                )
            )
            or ".claim.stale." in f
            or f.endswith(".tmp")
        )
        if is_marker:
            try:
                if os.path.getmtime(path) < orphan_cutoff:
                    os.unlink(path)
                    orphans.append(f)
            except FileNotFoundError:
                pass
    staging_root = os.path.join(root, _STAGING)
    if os.path.isdir(staging_root):
        for d in os.listdir(staging_root):
            path = os.path.join(staging_root, d)
            try:
                if os.path.getmtime(path) < orphan_cutoff:
                    shutil.rmtree(path, ignore_errors=True)
                    orphans.append(f"{_STAGING}/{d}")
            except FileNotFoundError:
                pass
    return {
        "removed": sorted(removed),
        "retained": sorted(v for v in committed if v in live),
        "orphans_removed": sorted(orphans),
    }


def rebucket(spark: SparkSession, root: str, n_buckets: int) -> str:
    """Partition evolution — change the table's hash-bucket count (the
    Iceberg `REPLACE PARTITION FIELD` analog for this layout): ONE full
    rewrite of the current version into the new bucket space, then every
    subsequent upsert/delete/merge scopes to the new buckets.  The one
    unavoidable full rewrite is the point of the operation (all rows
    change bucket); history before the boundary stays readable by
    time-travel (manifests are self-contained), but ``restore`` refuses
    to cross the boundary — the write path's bucket arithmetic would
    disagree with the restored data's layout (``meta.bucketed_since``
    records the fence; re-run rebucket after such a restore instead)."""
    meta = _read_meta(root)
    if meta["key"] is None:
        raise ValueError("rebucket requires a bucketed table")
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    if current_version(root) is None:
        raise ValueError(f"no current version under {root}")

    def stage(ver: str) -> str:
        # resolve the snapshot UNDER the claim: read_current binds the
        # manifest at call time, so reading before the claim could rewrite
        # a stale state (with_row_ids: the rewrite must carry row
        # identities, not remint them)
        meta = _read_meta(root)
        rows = read_current(spark, root, with_row_ids=True)
        dest = os.path.join(root, ver)
        _write_buckets(rows.withColumn(_BUCKET, _bucket_expr(meta["key"], n_buckets)), meta, dest)
        _write_manifest(root, ver, _written_buckets(root, ver))
        # the new-layout meta commits with the data at the flip: a crash on
        # either side leaves meta and current layout consistent
        _stage_meta(
            root, ver,
            _replace_meta(meta, n_buckets=n_buckets, bucketed_since=int(ver.split("_")[1])),
        )
        return "*"

    return _claim_first(root, "rebucket", stage)[0]


def restore(root: str, version: int | None = None, tag: str | None = None) -> str:
    """RESTORE TABLE — roll the table back to an earlier version (by
    number or tag) by writing a NEW version whose manifest points at the
    target's buckets.  Delta's RESTORE semantics: O(1) metadata, no data
    copied, nothing deleted — the bad writes stay on disk as history
    (``vacuum`` decides their fate later), and the restore itself is one
    more auditable version in the log.  Fails loudly if any bucket the
    target references was already vacuumed."""
    if (version is None) == (tag is None):
        raise ValueError("pass exactly one of version / tag")
    if tag is not None:
        try:
            with open(os.path.join(root, "_tags", tag)) as fh:
                target = fh.read().strip()
        except FileNotFoundError:
            raise ValueError(f"no tag {tag!r} under {root}") from None
    else:
        target = _version_name(version)
    if not os.path.isdir(os.path.join(root, target)):
        raise ValueError(f"version {target} does not exist under {root}")
    fence = _read_meta(root).get("bucketed_since")
    if fence is not None and int(target.split("_")[1]) < fence:
        raise ValueError(
            f"cannot restore {target}: table was rebucketed at v_{fence:05d} "
            "and the write path's bucket arithmetic would disagree with the "
            "restored layout — rebucket again after restoring via read_version"
        )
    mapping = _read_manifest(root, target)
    missing = sorted(
        {rel.split("/", 1)[0] for rel in mapping.values()}
        - {
            d
            for d in os.listdir(root)
            if os.path.isdir(os.path.join(root, d))
        }
    )
    if missing:
        raise ValueError(
            f"cannot restore {target}: referenced dirs vacuumed: {missing}"
        )

    def stage(ver: str) -> str:
        os.makedirs(os.path.join(root, ver))
        _write_manifest(root, ver, mapping)
        # restore reproduces the TARGET's logical state, deletion vectors
        # included (not the abandoned current's — that is what is rolled back)
        _write_dv(root, ver, _read_dv(root, target))
        return "*"

    return _claim_first(root, "restore", stage)[0]


def create_tag(root: str, name: str, version: int | None = None) -> str:
    """Pin a named tag to a version (default: current) — the Iceberg
    tag/branch primitive: readers address data by meaning ("train-v1",
    "pre-backfill") instead of version arithmetic.  Tags are O(1) pointer
    files, and ``vacuum`` retains tagged versions (plus every dir their
    manifests reference) regardless of the retention window."""
    if not name or "/" in name or name.startswith("_"):
        raise ValueError(f"invalid tag name {name!r}")
    cur = current_version(root)
    if cur is None:
        raise ValueError(f"no current version under {root}")
    ver = _version_name(version) if version is not None else cur
    if not os.path.isdir(os.path.join(root, ver)):
        raise ValueError(f"version {ver} does not exist under {root}")
    tag_dir = os.path.join(root, "_tags")
    os.makedirs(tag_dir, exist_ok=True)
    tmp = os.path.join(tag_dir, f".{name}.tmp")
    with open(tmp, "w") as fh:
        fh.write(ver)
    os.replace(tmp, os.path.join(tag_dir, name))
    return ver


def shallow_clone(src_root: str, dst_root: str) -> str:
    """Delta-style SHALLOW CLONE: create a NEW table whose v0 manifest
    references the source's current data files by absolute path — zero
    bytes copied, O(#buckets) metadata, and the clone then evolves
    independently (its mutations write clone-local versions; the shared
    files stay immutable by the CoW contract, so neither table can see
    the other's writes).  The canonical use is a production-safe
    experiment: clone a 100 TB table in milliseconds, run a destructive
    backfill against the clone, keep or discard.

    Supported on the clone: reads, upsert / delete_where / merge_into /
    compact (all bucket-scoped ops — the copied meta carries the key and
    bucket count), vacuum (clone-local; absolute references protect
    nothing locally, which is correct — they point at the source), tags,
    clone-local time travel.  NOT carried over: the source's history
    (the clone starts at v0) and ``restore``/``rebucket`` across the
    clone boundary.

    Delta's documented shallow-clone hazard applies verbatim: a VACUUM
    of the SOURCE does not know about the clone's references, so
    vacuuming source versions the clone still points at breaks the
    clone — retain (tag) the cloned-from version on the source side for
    the clone's lifetime.  This covers the cloned DELETION VECTORS too:
    like the data files they are absolute references into the source's
    dirs, so they are pinned only by the SOURCE table's retention — the
    clone-local vacuum live-set loop skips absolute entries explicitly
    (protecting nothing locally is correct; there is nothing local to
    protect).  The clone's own subsequent vectors are relative and
    vacuum-pinned normally.

    Tables with evolved columns are refused: the clone's own version
    numbering would collide with the source's ``added_in`` fences in the
    default-fill read path (clone-local v1 files physically carry every
    column, but a source fence of added_in=3 would wrongly default-fill
    them)."""
    meta = _read_meta(src_root)
    if meta.get("added"):
        raise ValueError(
            "shallow_clone of a table with evolved columns is not supported: "
            "the clone's version numbering would collide with the source's "
            "added_in fences; compact the source first to materialize fills"
        )
    cur = current_version(src_root)
    if cur is None:
        raise ValueError(f"no current version under {src_root}")
    if current_version(dst_root) is not None:
        raise ValueError(f"destination {dst_root} already has a table")
    src_abs = os.path.abspath(src_root)

    def stage(ver: str) -> str:  # v_00000 under the clone's own claim
        os.makedirs(os.path.join(dst_root, ver))
        _write_manifest(
            dst_root, ver,
            {b: os.path.join(src_abs, rel) for b, rel in _read_manifest(src_root, cur).items()},
        )
        # pending deletion vectors are part of the cloned logical state; like
        # the data files they are referenced in place (absolute paths)
        _write_dv(
            dst_root, ver,
            {
                b: [os.path.join(src_abs, rel) for rel in rels]
                for b, rels in _read_dv(src_root, cur).items()
            },
        )
        _sync_root_meta(dst_root, meta)
        return "*"

    return _claim_first(dst_root, "clone", stage)[0]


# ops whose commit can never change a ROW of the logical table: schema /
# constraint / mapping metadata, content-preserving re-layouts, and the
# clone marker.  CDF (read_changes) skips their transitions outright —
# Delta's posture too: schema changes are not row changes.
_CDF_NO_ROW_CHANGE_OPS = {
    "add_column",
    "add_generated",
    "add_constraint",
    "drop_column",
    "rename_column",
    "compact",
    "rebucket",
    "clone",
}


def read_changes(
    spark: SparkSession,
    root: str,
    since_version: int,
    until_version: int | None = None,
) -> DataFrame:
    """First-class Change Data Feed — the Delta ``table_changes`` /
    ``readChangeFeed`` shape: every row change the table underwent in
    ``(since_version, until_version]``, as the table's columns plus
    ``_change_type`` (``insert`` / ``delete`` / ``update_preimage`` /
    ``update_postimage``) and ``_commit_version``.  This is the feed an
    incremental consumer (IVM view refresh, downstream sync, audit)
    applies instead of re-reading the table.

    Derivation is per version TRANSITION, bucket-scoped by the commit
    log: a transition whose commit record lists touched buckets reads
    ONLY those buckets of both adjacent versions (manifest-filtered — at
    100 TB a trickle upsert's feed costs two bucket reads, never two
    table scans), full-outer joins them on the table key, and classifies
    each key by null-side and null-safe struct equality; metadata-only
    and content-preserving commits (``_CDF_NO_ROW_CHANGE_OPS``) are
    skipped outright.  ``init`` emits pure inserts, ``restore`` and
    recordless legacy commits fall back to a full-table diff.  Deletion
    vectors are applied per side, so a ``delete_dv`` transition surfaces
    as plain ``delete`` rows.  Unchanged-in-place rows never appear.

    The feed reads through the CURRENT logical schema (same table-level
    posture as :func:`drop_column` / :func:`rename_column` time travel).
    Requires a bucketed (keyed) table — row identity is the key."""
    meta = _read_meta(root)
    key = meta.get("key")
    if key is None:
        raise ValueError("read_changes requires a bucketed (keyed) table")
    cur = current_version(root)
    if cur is None:
        raise ValueError(f"no committed version under {root}")
    hi = int(cur.split("_")[1]) if until_version is None else int(until_version)
    lo = int(since_version)
    if lo > hi:
        raise ValueError(f"since_version {lo} is beyond until_version {hi}")
    schema = T.StructType.fromJson(json.loads(meta["schema"]))
    cols = [f.name for f in schema.fields]

    def _side(vn: int, buckets) -> DataFrame | None:
        man = _read_manifest(root, _version_name(vn))
        if buckets is not None:
            wanted = set(buckets)
            man = {b: rel for b, rel in man.items() if b in wanted}
        if not man:
            return None
        df = _read_paths(spark, root, meta, man)
        df = _apply_dv(
            spark, root, df, meta, _read_dv(root, _version_name(vn)),
            buckets=buckets,
        )
        if _BUCKET in df.columns:
            df = df.drop(_BUCKET)
        return df.select(*cols)

    out: DataFrame | None = None
    for n in range(lo + 1, hi + 1):
        rec = _read_commit(root, _version_name(n))
        op = (rec or {}).get("op")
        if op in _CDF_NO_ROW_CHANGE_OPS:
            continue
        buckets = (rec or {}).get("buckets")
        scope = buckets if isinstance(buckets, list) else None
        old = None if op == "init" else _side(n - 1, scope)
        new = _side(n, scope)
        if old is None and new is None:
            continue
        if old is None:
            ch = new.select(*cols, F.lit("insert").alias("_change_type"))
        elif new is None:
            ch = old.select(*cols, F.lit("delete").alias("_change_type"))
        else:
            o, nw = old.alias("o"), new.alias("n")
            j = nw.join(o, F.col(f"n.{key}") == F.col(f"o.{key}"), "full_outer")
            o_row = F.struct(*[F.col(f"o.{c}") for c in cols])
            n_row = F.struct(*[F.col(f"n.{c}") for c in cols])
            o_present = F.col(f"o.{key}").isNotNull()
            n_present = F.col(f"n.{key}").isNotNull()
            # unchanged keys (the overwhelming majority of a scoped
            # bucket) are dropped before the explode
            j = j.filter(~(o_present & n_present & o_row.eqNullSafe(n_row)))
            pre = F.when(
                o_present,
                F.struct(
                    o_row.alias("row"),
                    F.when(n_present, F.lit("update_preimage"))
                    .otherwise(F.lit("delete"))
                    .alias("_change_type"),
                ),
            )
            post = F.when(
                n_present,
                F.struct(
                    n_row.alias("row"),
                    F.when(o_present, F.lit("update_postimage"))
                    .otherwise(F.lit("insert"))
                    .alias("_change_type"),
                ),
            )
            ch = (
                j.select(
                    F.explode(F.array_compact(F.array(pre, post))).alias("c")
                )
                .select("c.row.*", "c._change_type")
            )
        ch = ch.withColumn("_commit_version", F.lit(n).cast("long"))
        out = ch if out is None else out.unionByName(ch)
    if out is None:
        empty = T.StructType(
            list(schema.fields)
            + [
                T.StructField("_change_type", T.StringType(), False),
                T.StructField("_commit_version", T.LongType(), False),
            ]
        )
        return local_df(spark, [], empty)
    return out


def stream_changes(
    spark: SparkSession,
    root: str,
    since_version: int = -1,
    until_version: int | None = None,
    *,
    commits_per_trigger: int = 1,
    stop_at_version: int | str | None = None,
) -> DataFrame:
    """STREAMING Change Data Feed — :func:`read_changes` as a rate-limited
    readStream whose offsets ARE commit versions (the Delta
    ``readChangeFeed`` + ``maxFilesPerTrigger``-style admission shape,
    but commit-granular): every micro-batch is a whole number of commits
    in commit order, at most ``commits_per_trigger`` per trigger.  With
    the default 1, each micro-batch is EXACTLY one commit — the replay
    granularity incremental maintainers (SCD2, IVM) assume, which a file
    source over a spooled copy cannot promise (files split commits and
    order by modification time).

    Implemented as a PySpark Python data source
    (:mod:`mongraph_spark.sources.cdf_stream`): driver-side planning is
    metadata-only (commit records scope each transition to touched
    buckets), the per-bucket old/new diff runs Arrow-side on executors,
    and no spool copy of the feed is ever materialized.  Raises for
    un-keyed tables and tables with generated columns (their fills are
    SQL expressions; use the batch feed).

    ``Trigger.AvailableNow`` caveat: the Python data-source wrapper
    snapshots ONE rate-limited ``latestOffset`` at query start, so a
    plain rate-limited stream under ``availableNow`` stops after
    ``commits_per_trigger`` commits — a silent partial drain.  For a
    finite catch-up that drains completely and stops on its own, pass
    ``stop_at_version="latest"`` (or a version number): the drain
    target is frozen at stream start and advertised un-paced (pacing is
    disabled — the whole snapshot is one catch-up batch), so
    ``trigger(availableNow=True)`` terminates exactly at the snapshot;
    checkpoint restarts re-snapshot "latest" and stay exactly-once."""
    meta = _read_meta(root)
    if meta.get("key") is None:
        raise ValueError("stream_changes requires a bucketed (keyed) table")
    if any("expr" in c for c in (meta.get("added") or [])):
        raise NotImplementedError(
            "stream_changes does not evaluate generated-column fills; "
            "use the batch read_changes"
        )
    from mongraph_spark.sources.cdf_stream import FORMAT_NAME, CdfDataSource

    registered = getattr(spark, "_mg_cdf_registered", False)
    if not registered:
        spark.dataSource.register(CdfDataSource)
        spark._mg_cdf_registered = True
    reader = (
        spark.readStream.format(FORMAT_NAME)
        .option("root", root)
        .option("since_version", str(int(since_version)))
        .option("commits_per_trigger", str(int(commits_per_trigger)))
    )
    if until_version is not None:
        reader = reader.option("until_version", str(int(until_version)))
    if stop_at_version is not None:
        reader = reader.option("stop_at_version", str(stop_at_version))
    return reader.load()


def scd2_history(
    spark: SparkSession,
    root: str,
    since_version: int = -1,
    until_version: int | None = None,
) -> DataFrame:
    """Assemble a Slowly-Changing-Dimension Type 2 view of the table from
    its own change feed (:func:`read_changes`) — the warehouse dimension-
    build every CDC consumer eventually writes by hand: one row per
    (key, value-interval) with ``_valid_from`` / ``_valid_to`` commit
    versions and ``_is_current``.

    Derivation: feed rows that OPEN a state (``insert`` /
    ``update_postimage``) become candidate dimension rows valid from
    their commit; ``delete`` rows are terminators.  One ordered window
    per key over this bounded event sequence assigns each open row
    ``_valid_to`` = the next event's version (the next state or the
    delete) and ``_is_current`` when no event follows.  ``update_preimage``
    rows are redundant for the build (their values equal the previous
    postimage) and are dropped before the window.

    Scale shape: the window partitions on the table key and orders by
    commit version — the per-key event sequence is bounded by the key's
    change count, never the table size, and the feed underneath is
    bucket-scoped per transition.  With ``since_version=-1`` (default)
    the feed starts at init, so every key's first interval opens at its
    true birth version."""
    key = _read_meta(root).get("key")
    feed = read_changes(spark, root, since_version, until_version)
    ev = feed.filter(F.col("_change_type") != "update_preimage")
    w = Window.partitionBy(key).orderBy("_commit_version")
    ev = ev.withColumn("_next_version", F.lead("_commit_version").over(w))
    return (
        ev.filter(F.col("_change_type") != "delete")
        .withColumnRenamed("_commit_version", "_valid_from")
        .withColumnRenamed("_next_version", "_valid_to")
        .withColumn("_is_current", F.col("_valid_to").isNull())
        .drop("_change_type")
    )


def read_as_of(spark: SparkSession, root: str, ts: float) -> DataFrame:
    """``TIMESTAMP AS OF`` time travel: read the latest version whose
    COMMIT time (:func:`_commit_ts` — the same clock ``vacuum_retention``
    retains on) is ≤ ``ts``.  Versions above the current pointer
    (uncommitted claims) never qualify.  Raises ``ValueError`` if the
    table has no version that old, and :class:`VersionVacuumedError` if
    the version that was truly current at ``ts`` has been vacuumed —
    answering from an older survivor would silently return STALER data
    than asked for (Delta errors here too).

    Resolution uses two sources: surviving version dirs (exact commit
    times) and the vacuum tombstone log (``_vacuumed.json`` — the
    vacuumed versions' commit times, Delta's log-survives-VACUUM shape).
    The newest version overall with ts ≤ requested is the TRUE target;
    if it is tombstoned, the error is exact.  A version missing from
    BOTH (deleted outside the vacuum API, or pre-tombstone history)
    falls back to the conservative rule: commits serialize through the
    claim protocol, so commit times are monotone in version number, and
    an unknown-time version strictly between the best known candidate ≤
    ts and the first known version > ts could have been the true
    target — refuse rather than risk answering stale."""
    cur = current_version(root)
    if cur is None:
        raise ValueError(f"no current version under {root}")
    n_cur = int(cur.split("_")[1])
    tombs = _read_tombstones(root)
    best: tuple[int, bool] | None = None  # (version n, survives?)
    first_after: int | None = None
    unknown: list[int] = []
    for n in range(n_cur + 1):
        ver = _version_name(n)
        if os.path.isdir(os.path.join(root, ver)):
            committed, survives = _commit_ts(root, ver), True
        elif ver in tombs:
            committed, survives = tombs[ver], False
        else:
            unknown.append(n)
            continue
        if committed <= ts:
            best = (n, survives)  # monotone ts ⇒ last known ≤ ts is the max
        elif first_after is None:
            first_after = n
    if best is None:
        lo_gap = [
            n for n in unknown
            if n < (first_after if first_after is not None else n_cur + 1)
        ]
        if lo_gap:
            raise VersionVacuumedError(
                f"as-of ts={ts} on {root}: versions "
                f"{[_version_name(n) for n in lo_gap]} are missing with no "
                "tombstoned commit time and may be the true target; "
                "refusing to answer"
            )
        raise ValueError(
            f"no version of {root} committed at or before ts={ts}"
        )
    n_best, survives = best
    if not survives:
        raise VersionVacuumedError(
            f"as-of ts={ts} on {root}: the true target "
            f"{_version_name(n_best)} was vacuumed; refusing to answer "
            "from a staler snapshot"
        )
    gap_hi = first_after if first_after is not None else n_cur + 1
    in_gap = [n for n in unknown if n_best < n < gap_hi]
    if in_gap:
        raise VersionVacuumedError(
            f"as-of ts={ts} on {root}: versions "
            f"{[_version_name(n) for n in in_gap]} are missing with no "
            f"tombstoned commit time and may be the true target (newest "
            f"known version at or before ts is {_version_name(n_best)}); "
            "refusing to answer from a possibly-staler snapshot"
        )
    return read_version(spark, root, n_best)


def read_tag(spark: SparkSession, root: str, name: str) -> DataFrame:
    """Read the version a tag points at (``VERSION AS OF <tag>``)."""
    try:
        with open(os.path.join(root, "_tags", name)) as fh:
            ver = fh.read().strip()
    except FileNotFoundError:
        raise ValueError(f"no tag {name!r} under {root}") from None
    return read_version(spark, root, int(ver.split("_")[1]))


def describe(root: str) -> dict:
    """Table metadata as a plain dict (the DESCRIBE EXTENDED surface):
    layout, schema, evolution history, per-version bucket counts, live
    file/byte totals of the CURRENT version — what an operator checks
    before deciding to compact or vacuum."""
    meta = _read_meta(root)
    cur = current_version(root)
    versions = sorted(
        d for d in os.listdir(root)
        if d.startswith("v_") and os.path.isdir(os.path.join(root, d))
    )
    out = {
        "key": meta["key"],
        "n_buckets": meta["n_buckets"],
        "added_columns": meta.get("added") or [],
        "dropped_columns": meta.get("dropped") or [],
        "constraints": meta.get("constraints") or {},
        "current_version": cur,
        "versions_on_disk": versions,
        "pending_deletion_vectors": (
            {b: len(rels) for b, rels in sorted(_read_dv(root, cur).items())}
            if cur is not None
            else {}
        ),
        "tags": {},
        "current_files": 0,
        "current_bytes": 0,
        "buckets_by_version": {},
    }
    tag_dir = os.path.join(root, "_tags")
    if os.path.isdir(tag_dir):
        for t in sorted(os.listdir(tag_dir)):
            if not t.startswith("."):
                with open(os.path.join(tag_dir, t)) as fh:
                    out["tags"][t] = fh.read().strip()
    if cur is not None:
        for b, rel in _read_manifest(root, cur).items():
            src_ver = rel.split("/", 1)[0]
            out["buckets_by_version"][src_ver] = (
                out["buckets_by_version"].get(src_ver, 0) + 1
            )
            d = os.path.join(root, rel)
            for f in os.listdir(d):
                if f.endswith(".parquet"):
                    out["current_files"] += 1
                    out["current_bytes"] += os.path.getsize(os.path.join(d, f))
    return out
