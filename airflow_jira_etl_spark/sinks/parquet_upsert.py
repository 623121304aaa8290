"""Upsert-able parquet table: bucketed copy-on-write MERGE + manifest commits.

The reference's sink is a per-row ``INSERT ... ON CONFLICT DO UPDATE``
(``/root/reference/dags/jira/db_ops.py:29-43``). Plain parquet has no
transactional MERGE, so the engine-level equivalent (SURVEY.md §4.2-2)
is Delta-style copy-on-write at FILE granularity:

* the table is hash-bucketed on the upsert key into ``n_buckets``
  immutable bucket directories (``__bucket=K``);
* a MERGE batch computes its **dirty buckets** (the buckets its keys
  hash into), reads ONLY those buckets' current files, merges via the
  distributed upsert operator, and writes ONLY those buckets anew;
* a generation commit is a tiny JSON **manifest** mapping every bucket
  to the generation directory that last rewrote it — clean buckets
  keep pointing at their old files (no copy, no link — object-store
  safe);
* readers resolve ``_CURRENT`` → manifest → file list, so they always
  see one complete, consistent generation.

Per batch, a table of several buckets runs three Spark jobs: a
``localCheckpoint`` of the batch, a collect of its dirty-bucket set
(and NULL-key flag), and the merge write, which shuffles on the key.
A table of ONE hash bucket knows its dirty set up front (every key
hashes to bucket 0), so it skips the checkpoint and the collect and
merges in a single partition: the apply is one job of one task with
no shuffle, the entity pipelines' case (``pipeline.ENTITY_N_BUCKETS``).
Either way the commit re-points exactly the bucket directories the
write produced.

Bytes written per batch ≈ ``|dirty buckets| × table_bytes / n_buckets``
— proportional to the batch's key spread, not to table size (size
``n_buckets`` so a bucket ≈ one target parquet file, e.g. 128 MB, at
the expected table volume; at 100 TB that is thousands of buckets and
a small batch touches only its own). Replay-safe: re-applying a batch
dirties the same buckets and produces identical contents
(last-writer-wins), the reference's idempotency invariant (SURVEY.md
§3.4). ``vacuum`` provides the bounded-storage half of the sink
contract: generations beyond the retention window are deleted, while
every data directory still referenced by a retained manifest survives
(so a reader holding a recent pointer keeps working mid-GC).
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from airflow_jira_etl_spark.checkpoint import release_local_checkpoint
from airflow_jira_etl_spark.operators.upsert import (
    merge_aggregate,
    null_key_violation,
    upsert,
)

_POINTER = "_CURRENT"
_MANIFEST = "_MANIFEST.json"
_BUCKET = "__bucket"

DEFAULT_N_BUCKETS = 16

# A bucketer maps (DataFrame, key columns, n_buckets) -> bucket Column.
Bucketer = Callable[[DataFrame, list[str], int], Column]


def hash_bucketer(df: DataFrame, keys: list[str], n_buckets: int) -> Column:
    """Default bucket function: stable hash of the key columns. Right
    for uniformly-random update keys; every key mutates exactly one
    bucket forever."""
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)).cast(
        "int"
    )


hash_bucketer.fingerprint = "hash"


def range_bucketer(width: int) -> Bucketer:
    """Range bucket on a single numeric key: ``floor(key / width)``.
    The right function for append-mostly / locally-clustered keys (page
    cursors, auto-increment ids): a contiguous batch dirties only the
    few buckets its key range spans, where a hash would spray it across
    all of them. Bucket count grows with the key domain — harmless,
    buckets are directories (size ``width`` so key/width fits an int)."""

    def bucketer(df: DataFrame, keys: list[str], n_buckets: int) -> Column:
        # true floor division in pure integer arithmetic: subtracting
        # pmod (always non-negative) leaves an exact multiple of width,
        # so the integer `div` truncation is exact — negative keys floor
        # toward -inf (not toward zero) and huge keys never round
        # through a double intermediate
        k = f"CAST(`{keys[0]}` AS BIGINT)"
        return F.expr(f"CAST(({k} - pmod({k}, {width})) div {width} AS INT)")

    bucketer.fingerprint = f"range:{width}"
    return bucketer


def _bucketer_fingerprint(bucketer: Bucketer) -> str:
    """Identity string persisted in the manifest so a table can never be
    reopened with a different bucketer (which would silently route keys
    away from their existing rows, breaking the upsert invariant).

    An EXPLICIT ``.fingerprint`` is required: the tempting fallbacks are
    each worse than failing — ``repr()`` embeds a per-run memory address
    (every process restart would false-positive the mismatch guard) and
    ``__name__`` is typically a generic ``bucketer``/``<lambda>`` that
    would let two genuinely different functions PASS the guard, which is
    precisely the key-misrouting bug it exists to prevent."""
    fp = getattr(bucketer, "fingerprint", None)
    if not fp:
        raise ValueError(
            "bucketer has no .fingerprint: custom bucketers must set a "
            "stable identity string (e.g. bucketer.fingerprint = "
            "'mykey:v2') so the manifest can detect layout changes"
        )
    return fp


_NUMERIC_TYPES = (
    "tinyint", "smallint", "int", "bigint", "float", "double"
)


def _is_numeric_type(simple: str) -> bool:
    """True for Spark simpleString type names whose pairwise set-op
    widening is lossless numeric promotion (the only cross-type batch
    apply() accepts; the post-merge check still pins the resolved type
    to the stored one exactly). Exact names for the fixed-width types
    plus the parameterized 'decimal(p,s)' prefix — a bare prefix match
    classified 'interval ...' as numeric ('interval'.startswith('int')),
    letting an interval-typed batch column slip past this early gate to
    die later in an opaque unionByName error instead of the clear
    type-change refusal this check exists to raise."""
    return simple in _NUMERIC_TYPES or simple.startswith("decimal")


def _gen_number(gen: str | None) -> int:
    """Generation ordinal from a ``gen_NNNNNN`` dir name or path; -1 for
    an empty table. The ONE parse — read(), _next_generation() and
    vacuum() must agree on it or their committedness checks drift."""
    return int(os.path.basename(gen).split("_")[1]) if gen else -1


def _written_buckets(staging: str) -> list[int]:
    """Bucket ids a ``partitionBy(__bucket)`` write produced under
    ``staging`` — the set a commit re-points, shared by apply() and
    compact(). A NULL bucket id (range_bucketer over a non-numeric
    key: CAST AS BIGINT yields NULL silently; a custom bucketer) lands
    in ``__HIVE_DEFAULT_PARTITION__``, which no manifest entry can
    name: those rows would silently vanish, so the staged write is
    removed and the merge refused."""
    if os.path.exists(
        os.path.join(staging, f"{_BUCKET}=__HIVE_DEFAULT_PARTITION__")
    ):
        shutil.rmtree(staging, ignore_errors=True)
        raise ValueError(
            "bucketer produced NULL bucket ids — upsert keys must be "
            "non-null and bucket to integers (a range_bucketer over a "
            "non-numeric key CASTs to NULL silently)"
        )
    return sorted(
        int(d.split("=")[1])
        for d in os.listdir(staging)
        if d.startswith(f"{_BUCKET}=")
    )


class ParquetUpsertTable:
    """A directory-backed table supporting idempotent keyed upsert with
    bucket-granular copy-on-write and generation retention."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        key: str | list[str],
        n_buckets: int = DEFAULT_N_BUCKETS,
        bucketer: Bucketer = hash_bucketer,
        null_keys: str = "reject",
    ):
        if null_keys not in ("reject", "group"):
            raise ValueError(
                f"null_keys must be 'reject' or 'group', got {null_keys!r}"
            )
        self.spark = spark
        self.root = root
        self.key = key
        self.keys = [key] if isinstance(key, str) else list(key)
        self.n_buckets = n_buckets
        self.bucketer = bucketer
        # "group": NULL keys are DOMAIN values (GROUP BY keys of an
        # incremental MV — SQL aggregation has a NULL group), not
        # corruption; only meaningful for combining merges, enforced in
        # apply(). The default hash bucketer routes NULL to a stable
        # valid bucket, so the NULL group merges consistently.
        self.null_keys = null_keys
        os.makedirs(root, exist_ok=True)

    # ------------------------------------------------------ commit log

    def _pointer_path(self) -> str:
        return os.path.join(self.root, _POINTER)

    def current_generation(self) -> str | None:
        try:
            with open(self._pointer_path()) as f:
                gen = f.read().strip()
            return os.path.join(self.root, gen) if gen else None
        except FileNotFoundError:
            return None

    def _read_manifest(self, gen_dir: str | None = None) -> dict | None:
        gen_dir = gen_dir or self.current_generation()
        if gen_dir is None:
            return None
        with open(os.path.join(gen_dir, _MANIFEST)) as f:
            return json.load(f)

    def _bucket_paths(self, manifest: dict, buckets=None) -> list[str]:
        items = manifest["buckets"].items()
        if buckets is not None:
            wanted = {str(b) for b in buckets}
            items = [(b, p) for b, p in items if b in wanted]
        return [os.path.join(self.root, p) for _, p in items]

    # ------------------------------------------------------------ read

    def read(self, generation: int | None = None) -> DataFrame | None:
        """Current table state, or — TIME TRAVEL — the state as of a
        prior committed ``generation`` (its manifest must still be
        retained; ``vacuum`` keeps every data directory a retained
        manifest references, so retained pointers stay readable)."""
        cur = self.current_generation()
        gen_dir = None
        if generation is not None:
            # committed = at or before the pointer: a manifest file can
            # exist for a generation whose pointer flip never happened
            # (crash mid-apply) — that state must not be served
            cur_n = _gen_number(cur)
            if generation > cur_n:
                raise ValueError(
                    f"generation {generation} is not committed "
                    f"(current is {cur_n})"
                )
            gen_dir = os.path.join(self.root, f"gen_{generation:06d}")
            if not os.path.exists(os.path.join(gen_dir, _MANIFEST)):
                raise ValueError(
                    f"generation {generation} has no retained manifest "
                    f"(vacuumed or never committed)"
                )
        manifest = self._read_manifest(gen_dir)
        if manifest is None:
            return None
        return self._read_paths(manifest, self._bucket_paths(manifest))

    def _read_paths(self, manifest: dict, paths: list[str]) -> DataFrame:
        """Read bucket files under the MANIFEST's schema — the persisted
        contract: every bucket file is read with the column names and
        types the table committed, not whatever its footer infers."""
        schema = manifest.get("schema")
        reader = self.spark.read
        if schema:
            reader = reader.schema(
                ", ".join(f"`{nm}` {ty}" for nm, ty in schema)
            )
        return reader.parquet(*paths)

    # ----------------------------------------------------------- merge

    def apply(
        self,
        updates: DataFrame,
        combine: dict[str, str] | None = None,
    ) -> None:
        """MERGE a batch of updates. Default semantics: last-writer-wins
        on the key (intra-batch duplicate keys resolve in batch order —
        see operators/upsert.py). With ``combine`` (a column →
        sum/min/max map), the merge FOLDS the batch into the stored rows
        instead — the incremental-materialized-view refresh (see
        operators/upsert.merge_aggregate; replays are not idempotent in
        this mode, the caller owns the exactly-once batch boundary)."""
        if combine is None and self.null_keys == "group":
            # mode mismatch, rejected UP FRONT: a 'group' table's NULL
            # group is aggregation state, and once a combining apply()
            # has stored it, a later plain upsert touching that bucket
            # would read the legitimate NULL-key row back as the merge
            # BASE and trip upsert()'s base-side guard mid-execution
            # with entity-key advice ("rewrite the stored table") that
            # is wrong for this mode — a permanent, misdiagnosed
            # dead-end. Plain last-writer-wins on an aggregation table
            # is incoherent even when no NULL rows are in the way.
            raise ValueError(
                "this table was opened with null_keys='group' "
                "(aggregation semantics): apply() requires a combining "
                "merge (combine=...) — a plain last-writer-wins upsert "
                "on a grouped table is a mode mismatch, and a stored "
                "NULL-key group row would be misread as an entity row"
            )
        base_gen = self.current_generation()
        manifest = self._read_manifest()
        n_buckets = manifest["n_buckets"] if manifest else self.n_buckets
        # the bucketer identity is manifest-authoritative, like n_buckets:
        # merging with a different bucketer would route keys away from
        # their existing rows and silently break the upsert invariant
        # (reference db_ops.py:29-43, SURVEY.md §3.4)
        fingerprint = _bucketer_fingerprint(self.bucketer)
        if manifest is not None:
            table_fp = manifest.get("bucketer")
            if table_fp is not None and table_fp != fingerprint:
                raise ValueError(
                    f"bucketer mismatch: table was written with "
                    f"{table_fp!r}, merge attempted with {fingerprint!r} — "
                    f"reopening with a different bucketer would route keys "
                    f"away from their existing rows"
                )
        # schema contract lives in the manifest (bucket dirs may not
        # overlap, so comparing against read-back files is not enough):
        # the column-SET check runs here (names are known up front); the
        # TYPE check runs against the MERGED plan's schema below — the
        # manifest must record what the files will actually hold, and a
        # combining merge WIDENS types (sum: int->bigint, float->double,
        # decimal(p,s)->decimal(p+10,s)), so recording the batch's types
        # would wedge every subsequent read (manifest says int, files
        # say INT64)
        table_schema = manifest.get("schema") if manifest else None
        if table_schema is not None:
            old_names = {nm for nm, _ in table_schema}
            upd_names = set(updates.columns)
            if upd_names != old_names:
                raise ValueError(
                    f"schema mismatch: table has "
                    f"{sorted(old_names)}, batch has {sorted(upd_names)}"
                )
            # early same-name compat gate: identical, or numeric→numeric
            # (whose union-widened RESULT the merged check below pins to
            # the stored type exactly). Anything else — e.g. a string
            # batch into a numeric column — must raise HERE: union
            # coercion would resolve string→bigint and then fail row-by
            # -row at write time (or worse, silently stringify numbers
            # for a numeric batch into a string column)
            old_t = dict(table_schema)
            for f in updates.schema.fields:
                ot = old_t.get(f.name)
                nt = f.dataType.simpleString()
                if ot is not None and ot != nt and not (
                    _is_numeric_type(ot) and _is_numeric_type(nt)
                ):
                    raise ValueError(
                        f"type change for column {f.name!r}: "
                        f"{ot} -> {nt} (unsupported)"
                    )
        # A table of ONE hash bucket knows its dirty set before it reads
        # the batch: every key, NULL included, hashes to bucket 0. It
        # skips the batch checkpoint and the dirty-set job below, and
        # coalesces the merge's base ∪ batch union into one partition,
        # which satisfies the window's clustering without an Exchange —
        # the whole apply is the merge write, one job of one task that
        # reads the batch once. NULL keys still fail inside that write
        # through upsert()'s in-plan guard (mapped to ValueError below).
        one_bucket = (
            combine is None
            and n_buckets == 1
            and fingerprint == hash_bucketer.fingerprint
        )

        def bucket_of(df: DataFrame) -> Column:
            if one_bucket:
                return F.lit(0)
            return self.bucketer(df, self.keys, n_buckets)

        upd = updates.withColumn(_BUCKET, bucket_of(updates))
        if not one_bucket:
            # Multi-bucket tables evaluate the batch twice, for the
            # dirty-bucket set and for the merge write, so it is
            # materialized ONCE (localCheckpoint — lineage truncation),
            # not just lazily tagged or persisted: without it a
            # nondeterministic source (API read, sampled/limited
            # upstream) could land rows in a bucket absent from the
            # collected dirty set, whose stored rows the merge would
            # then never read as its base. A plain persist does NOT
            # guarantee that: an evicted/uncached block RECOMPUTES
            # through the source (the same hazard operators/ranking.py
            # guards against); a checkpointed block cannot recompute —
            # loss fails loudly.
            upd = upd.localCheckpoint(eager=False)
        try:
            dirty = [0] if one_bucket else self._dirty_buckets(upd)
            if manifest is not None:
                base_paths = self._bucket_paths(manifest, dirty)
            else:
                base_paths = []
            if base_paths:
                base = self._read_paths(manifest, base_paths)
                base = base.withColumn(_BUCKET, bucket_of(base))
            else:
                # first write (or all-new buckets): dedup within the batch
                base = upd.limit(0)
            # clustering the merge by bucket makes its one shuffle also
            # the write clustering -> no extra repartition shuffle
            if combine is not None:
                merged = merge_aggregate(
                    base,
                    upd,
                    self.keys,
                    combine,
                    cluster_cols=[_BUCKET],
                    null_keys=self.null_keys,
                )
            else:
                merged = upsert(
                    base,
                    upd,
                    self.keys,
                    cluster_cols=[_BUCKET],
                    single_partition=one_bucket,
                )

            # type contract, checked on what the files WILL hold: the
            # merged plan's schema (union widening already reconciled a
            # stored-bigint/batch-int pair; a genuinely incompatible
            # batch — string vs stored numeric — surfaces here as a
            # changed resolved type). Same-name/different-type raises;
            # the column set already matched above, so once the types
            # are proven equal the stored schema IS the merged one.
            merged_fields = [
                [f.name, f.dataType.simpleString()]
                for f in merged.schema.fields
                if f.name != _BUCKET
            ]
            if table_schema is not None:
                old_t, new_t = dict(table_schema), dict(merged_fields)
                for nm in old_t:
                    if old_t[nm] != new_t[nm]:
                        raise ValueError(
                            f"type change for column {nm!r}: "
                            f"{old_t[nm]} -> {new_t[nm]} (unsupported)"
                        )
                merged_schema = table_schema
            else:
                merged_schema = merged_fields
            gen_name, staging = self._next_generation()
            try:
                merged.write.partitionBy(_BUCKET).mode("overwrite").parquet(
                    staging
                )
            except Exception as e:
                # a failed write must not leave its staging dir behind
                # (it would linger until vacuum()); the in-plan NULL-key
                # guard surfaces as the key-contract ValueError, every
                # other failure unchanged
                shutil.rmtree(staging, ignore_errors=True)
                msg = null_key_violation(e, self.keys)
                if msg is not None:
                    raise ValueError(msg) from e
                raise
        finally:
            if not one_bucket:
                # deterministic per-batch free (DataFrame.unpersist is a
                # no-op on checkpoint blocks; without this they linger
                # until the ContextCleaner's periodic GC — ~30 min of
                # accumulation for a foreachBatch driver running many
                # batches). Safe here: the write above was `upd`'s last
                # consumer, and a buggy later access fails loudly rather
                # than silently recomputing.
                release_local_checkpoint(upd)
        # re-point exactly the buckets the write produced: a bucket the
        # merge left empty (an empty batch into a fresh table) has no
        # directory, and a manifest entry for it would fail every read
        new_buckets = dict(manifest["buckets"]) if manifest else {}
        for b in _written_buckets(staging):
            new_buckets[str(b)] = f"{gen_name}/{_BUCKET}={b}"
        self._commit(
            gen_name,
            staging,
            {
                "n_buckets": n_buckets,
                "buckets": new_buckets,
                "schema": merged_schema,
                "bucketer": fingerprint,
            },
            expected_base=base_gen,
        )

    def _dirty_buckets(self, upd: DataFrame) -> list[int]:
        """The buckets a (checkpointed) multi-bucket batch hashes into:
        <= n_buckets small rows — a scalar collect, same class as a
        COUNT, not a data collect. A NULL key is refused inside the
        merge write by the in-plan guard of upsert()/merge_aggregate()
        (with the default hash_bucketer it still hashes to a valid
        bucket); a NULL bucket id is left to _written_buckets, which
        refuses the written __HIVE_DEFAULT_PARTITION__ dir before
        commit."""
        from airflow_jira_etl_spark.session import scoped_conf

        # AQE off for THIS statement only: the dirty-set aggregate's
        # output is bounded by n_buckets rows at any scale, so AQE's
        # runtime replanning buys nothing here while its
        # per-query-stage materialization adds one scheduling
        # round-trip per MERGE batch (measured ~0.1 s per 4 applies at
        # sf0.1). The merge WRITE keeps AQE — there the partition
        # coalescing genuinely sizes output files.
        with scoped_conf(self.spark, "spark.sql.adaptive.enabled", "false"):
            raw = upd.select(_BUCKET).distinct().collect()
        return sorted(r[0] for r in raw if r[0] is not None)

    # ------------------------------------------------- generation commit

    def _next_generation(self) -> tuple[str, str]:
        """Next generation name + a UNIQUE staging path to write it at.
        Writers must never touch the final ``gen_N`` directory before
        the commit check: two writers racing from the same base derive
        the same N, and a shared staging dir would let the loser
        clobber the winner's committed files mid-merge. The staging
        dir is renamed into place inside ``_commit`` only after the
        lost-update check passes."""
        import uuid

        cur = self.current_generation()
        gen_name = f"gen_{_gen_number(cur) + 1:06d}"
        staging = os.path.join(
            self.root, f".staging_{gen_name}_{uuid.uuid4().hex[:8]}"
        )
        return gen_name, staging

    def _commit(
        self,
        gen_name: str,
        staging: str,
        manifest: dict,
        expected_base: str | None,
    ) -> None:
        """Publish a staged generation: lost-update check → rename the
        staging dir into ``gen_N`` → write the manifest → atomically
        flip ``_CURRENT`` (write-then-rename on the same filesystem).
        The ONE commit protocol — apply() and compact() must never
        fork it.

        Optimistic concurrency: ``expected_base`` is the generation
        this merge was computed FROM. If another writer committed in
        between, publishing would silently drop their changes (a lost
        update) — detect and refuse instead, leaving the winner's
        files untouched (the loser only ever wrote its own staging
        dir, which is cleaned up here). The whole publish sequence runs
        under an exclusive flock on ``_COMMIT.lock`` (same cross-process
        hazard class as the IVF index builder), which closes the old
        check-then-rename race AND makes crash recovery sound: inside
        the lock, a ``gen_N`` dir BEYOND the pointer cannot be a
        concurrent writer mid-publish, so it is by the pointer's own
        definition of committedness (read()/vacuum() judge the same
        way) crash garbage from a writer that died before its pointer
        flip — replaced here instead of wedging every future merge with
        an unresolvable 'already published' error. On filesystems
        without advisory locks (some object-store mounts), flock
        degrades to the optimistic checks alone — and because the
        crash-garbage deduction above only holds INSIDE the lock, the
        degraded path keeps the stricter manifest-exists refusal: a
        ``gen_N`` dir that already carries a manifest may be a live
        concurrent writer between its rename and pointer flip, so it is
        refused as a concurrent modification, never deleted."""
        import fcntl

        out = os.path.join(self.root, gen_name)
        with open(os.path.join(self.root, "_COMMIT.lock"), "w") as lk:
            locked = True
            try:
                fcntl.flock(lk, fcntl.LOCK_EX)
            except OSError:
                locked = False  # lock unsupported: optimistic checks only
            try:
                current = self.current_generation()
                if current != expected_base:
                    raise RuntimeError(
                        f"concurrent modification: merge computed from "
                        f"{expected_base!r} but the table is now at "
                        f"{current!r} — rerun the merge on the current state"
                    )
                if os.path.exists(out):
                    # Inside the flock, gen_name is always pointer+1, so
                    # anything already at `out` — manifest or not — is
                    # uncommitted crash garbage (a writer that died
                    # between rename and pointer flip); nothing committed
                    # references it. WITHOUT the flock that deduction
                    # fails: a manifest-bearing dir may be a concurrent
                    # publisher about to flip the pointer, and deleting
                    # it is exactly the lost update this protocol exists
                    # to prevent — refuse instead.
                    if not locked and os.path.exists(
                        os.path.join(out, _MANIFEST)
                    ):
                        raise RuntimeError(
                            f"concurrent modification: {gen_name} already "
                            f"holds a manifest and no advisory lock is "
                            f"available to prove it is crash garbage — "
                            f"rerun the merge on the current state"
                        )
                    shutil.rmtree(out)
                os.rename(staging, out)
            finally:
                shutil.rmtree(staging, ignore_errors=True)
            # Durability of the commit RECORD itself: fsync the
            # manifest and the pointer's tmp file before the rename,
            # then fsync the containing directories after. Without
            # these a kernel crash / power loss (process crashes are
            # already safe) can persist the RENAME metadata without
            # the DATA blocks — a zero-byte _CURRENT that reads as "no
            # table" (letting the next merge's crash-garbage branch
            # rmtree a COMMITTED generation) or an empty manifest that
            # kills every read in json.load forever. Scope: this makes
            # the pointer flip the true durability point for the
            # commit record; the parquet part files delegate to the
            # filesystem as with any Spark write — a power loss that
            # eats unsynced data files loses the generation either
            # way, but it can no longer DESTROY an older committed one.
            with open(os.path.join(out, _MANIFEST), "w") as f:
                json.dump(manifest, f)
                f.flush()
                os.fsync(f.fileno())
            tmp = self._pointer_path() + ".tmp"
            with open(tmp, "w") as f:
                f.write(gen_name)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, self._pointer_path())
            for d in (out, self.root):
                try:  # directory fsync persists the rename entries;
                    dfd = os.open(d, os.O_RDONLY)  # unsupported on
                    try:  # some mounts — best effort there
                        os.fsync(dfd)
                    finally:
                        os.close(dfd)
                except OSError:
                    pass

    # -------------------------------------------------------- compaction

    def compact(
        self,
        n_buckets: int | None = None,
        bucketer: Bucketer | None = None,
    ) -> str | None:
        """Rewrite the CURRENT state as one complete generation (the
        Delta OPTIMIZE analog). After many merges the live manifest
        references bucket directories scattered across old generations;
        compaction re-points every bucket at a single new generation,
        so a following ``vacuum`` can reclaim every prior directory and
        a reader lists one directory tree, not N.

        Because it rewrites every row anyway, compaction is also the
        ONE legitimate place to change the bucket layout — pass
        ``n_buckets`` (e.g. the table outgrew its file-per-bucket size
        target) and/or a new ``bucketer``. ``apply()``'s fingerprint
        guard forbids exactly this anywhere else, since a layout change
        without a full rewrite routes keys away from their rows.

        Returns the new generation name, or None for an empty table.
        """
        base_gen = self.current_generation()
        manifest = self._read_manifest()
        if manifest is None:
            return None
        new_n = n_buckets if n_buckets is not None else manifest["n_buckets"]
        new_bucketer = bucketer if bucketer is not None else self.bucketer
        df = self._read_paths(manifest, self._bucket_paths(manifest))
        df = df.withColumn(_BUCKET, new_bucketer(df, self.keys, new_n))
        # cluster by bucket so partitionBy emits ONE file per bucket dir
        # (the compaction contract) instead of a file per (task, bucket)
        df = df.repartition(max(new_n, 1), F.col(_BUCKET))

        gen_name, staging = self._next_generation()
        df.write.partitionBy(_BUCKET).mode("overwrite").parquet(staging)
        self._commit(
            gen_name,
            staging,
            {
                "n_buckets": new_n,
                "buckets": {
                    str(b): f"{gen_name}/{_BUCKET}={b}"
                    for b in _written_buckets(staging)
                },
                "schema": manifest["schema"],
                "bucketer": _bucketer_fingerprint(new_bucketer),
            },
            expected_base=base_gen,
        )
        # adopt the new layout so this instance's next apply() merges
        # under the fingerprint it just committed
        self.n_buckets = new_n
        self.bucketer = new_bucketer
        return gen_name

    # -------------------------------------------------------------- GC

    def generations(self) -> list[str]:
        """Generation dir names present on disk, oldest first."""
        return sorted(
            d
            for d in os.listdir(self.root)
            if d.startswith("gen_") and os.path.isdir(os.path.join(self.root, d))
        )

    def vacuum(self, retain_last: int = 2) -> list[str]:
        """Delete generations beyond the retention window (Delta
        VACUUM). Keeps (a) the last ``retain_last`` committed manifests
        and (b) every data directory any retained manifest references —
        so a reader that resolved any retained pointer is unaffected.
        Returns the deleted generation names."""
        if retain_last < 1:  # [-0:] would retain EVERYTHING — refuse
            raise ValueError(
                f"retain_last must be >= 1, got {retain_last} "
                f"(the committed current generation is always retained)"
            )
        # crashed writers leave .staging_* dirs nothing references —
        # sweep them (single-writer assumption: the vacuum caller owns
        # the table, so no live merge is staging concurrently)
        for d in os.listdir(self.root):
            if d.startswith(".staging_"):
                shutil.rmtree(os.path.join(self.root, d), ignore_errors=True)
        gens = self.generations()
        # committed = at or before the pointer, the same filter read()
        # applies: a crash mid-apply can leave a manifest whose pointer
        # flip never happened — anchoring retention on that orphan would
        # delete the committed current generation and leave _CURRENT
        # dangling. The orphan itself is unreferenced and gets GC'd.
        cur = self.current_generation()
        if cur is None:
            return []
        cur_n = _gen_number(cur)
        with_manifest = [
            g
            for g in gens
            if _gen_number(g) <= cur_n
            and os.path.exists(os.path.join(self.root, g, _MANIFEST))
        ]
        keep_manifests = with_manifest[-retain_last:]
        referenced = set(keep_manifests)
        for g in keep_manifests:
            m = self._read_manifest(os.path.join(self.root, g))
            for rel in m["buckets"].values():
                referenced.add(rel.split("/", 1)[0])
        deleted = []
        for g in gens:
            if g not in referenced:
                shutil.rmtree(os.path.join(self.root, g), ignore_errors=True)
                deleted.append(g)
        # generations kept only because a retained manifest references
        # their data dirs are no longer valid ENTRY POINTS: strip their
        # manifest so the retention window (time-travel surface) is
        # exactly keep_manifests, while the bucket files stay readable
        # through the retained manifests that reference them.
        for g in with_manifest:
            if g not in keep_manifests and g not in deleted:
                try:
                    os.remove(os.path.join(self.root, g, _MANIFEST))
                except FileNotFoundError:
                    pass
        return deleted

    def destroy(self) -> None:
        """Drop all table state, leaving an empty root: the instance
        (and any new one over the same path) starts from a fresh,
        usable table — no re-construction dance needed."""
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.root, exist_ok=True)
