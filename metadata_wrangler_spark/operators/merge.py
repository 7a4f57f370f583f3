"""Write-side merge operators — the reference's upsert semantics
re-expressed as set-oriented DataFrame transforms.

Reference semantics covered (SURVEY.md §2.7):

  get_one_or_create   `/root/reference/oclc/classify.py:958-967`
                      (unique on a key; insert iff absent)
  Metadata.apply      policy-guarded attribute-wise upsert; the one
                      hard rule is "a NULL never overwrites a value"
                      (`/root/reference/migration/20190205-remove-
                      content-cafe-coverage-for-books-with-no-title
                      .sql:9-11`)
  merge_into (D6)     contributor dedup + FK repoint
                      (`/root/reference/viaf.py:777-798`,
                      `/root/reference/oclc/classify.py:1311-1346`)
  bulk DELETE (D1)    anti-join rewrite
  UPDATE expr (D2)    column rewrite + overwrite

Each function is pure (DataFrames in → post-state DataFrame out);
persistence is `VersionedParquetTable`, the one state table: every
post-state commits as an immutable snapshot through an atomic
manifest claim, retried optimistically on conflict, with stream
progress (``last_batch_id``) committed in the same claim — the
parquet-only stand-in for a Delta/Iceberg MERGE target. On a cluster
with a transactional table format, swap it for `MERGE INTO`; every
plan above it is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metadata_wrangler_spark.operators.driver_fetch import count_at_most


def get_one_or_create(
    current: DataFrame, incoming: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Post-state of `get_one_or_create`: current rows win; incoming
    rows are appended only where the key is absent. One left_anti
    join (shuffle on the key; broadcast when incoming is small)."""
    fresh = incoming.join(
        current.select(*key_cols).dropDuplicates(), key_cols, "left_anti"
    )
    return current.unionByName(fresh)


def policy_merge(
    current: DataFrame,
    staged: DataFrame,
    key_cols: list[str],
    replace_cols: list[str],
    insert_missing: bool = True,
) -> DataFrame:
    """`Metadata.apply` post-state: attribute-wise upsert of one
    source's view with the null-guard policy — a staged NULL never
    overwrites a current value.

    ``replace_cols`` are the policy-guarded attributes; key columns
    identify the entity. Non-key, non-replace columns keep the
    current value (or take the staged one for brand-new keys).
    """
    other_cols = [
        c for c in current.columns if c not in key_cols + replace_cols
    ]
    c = current.alias("c")
    s = staged.alias("s")
    cond = None
    for k in key_cols:
        eq = F.col(f"c.{k}") == F.col(f"s.{k}")
        cond = eq if cond is None else (cond & eq)
    joined = c.join(s, cond, "full_outer")
    is_new = F.col(f"c.{key_cols[0]}").isNull()
    out_cols = []
    for k in key_cols:
        out_cols.append(F.coalesce(F.col(f"c.{k}"), F.col(f"s.{k}")).alias(k))
    for col in replace_cols:
        # staged non-null wins; staged NULL (or no staged row) keeps
        # the current value — the 20190205 migration's invariant.
        out_cols.append(
            F.when(F.col(f"s.{col}").isNotNull(), F.col(f"s.{col}"))
            .otherwise(F.col(f"c.{col}")).alias(col)
        )
    for col in other_cols:
        if col in staged.columns:
            out_cols.append(
                F.when(is_new, F.col(f"s.{col}"))
                .otherwise(F.col(f"c.{col}")).alias(col)
            )
        else:
            out_cols.append(F.col(f"c.{col}").alias(col))
    if not insert_missing:
        joined = joined.where(~is_new)
    return joined.select(*out_cols)


def merge_entities(
    entities: DataFrame,
    match_cols: list[str],
    id_col: str = "id",
) -> DataFrame:
    """D6 step 1 — canonicalization map: within each duplicate group
    (equal non-null ``match_cols``), the min-id row is canonical.

    Returns (old_id, canonical_id) for every entity (identity rows
    included, so FK repointing is a plain inner join).
    """
    non_null = None
    for m in match_cols:
        p = F.col(m).isNotNull()
        non_null = p if non_null is None else (non_null & p)
    canon = (
        entities.where(non_null)
        .groupBy(*match_cols)
        .agg(F.min(id_col).alias("canonical_id"))
    )
    mapped = entities.join(canon, match_cols, "left").select(
        F.col(id_col).alias("old_id"),
        F.coalesce("canonical_id", F.col(id_col)).alias("canonical_id"),
    )
    return mapped


def repoint_fks(
    referencing: DataFrame, mapping: DataFrame, fk_col: str
) -> DataFrame:
    """D6 step 2 — rewrite a foreign key through the canonicalization
    map (broadcast the map when duplicate groups are rare)."""
    m = mapping.withColumnsRenamed(
        {"old_id": fk_col, "canonical_id": f"_{fk_col}_canon"}
    )
    out = referencing.join(m, fk_col, "left")
    return out.withColumn(
        fk_col, F.coalesce(f"_{fk_col}_canon", fk_col)
    ).drop(f"_{fk_col}_canon")


def delete_where(df: DataFrame, predicate) -> DataFrame:
    """D1 post-state: bulk DELETE as a predicate-inverted filter.

    At scale the predicate prunes whole partitions before touching
    rows (Delta DELETE does the same under the hood)."""
    return df.where(~predicate)


def update_where(df: DataFrame, predicate, assignments: dict) -> DataFrame:
    """D2 post-state: UPDATE … SET col = expr WHERE predicate."""
    out = df
    for col, expr in assignments.items():
        out = out.withColumn(col, F.when(predicate, expr).otherwise(F.col(col)))
    return out


class CommitConflict(Exception):
    """Another writer claimed the target version first."""


def _claim_json(path: str, body: dict) -> bool:
    """Create ``path`` holding ``body`` as JSON, only if it does not
    exist yet. Returns False when another writer claimed it first.

    The body goes to a private temp file first, then ``path`` is
    claimed with an atomic link(2): the claim either fully succeeds
    (the file appears complete in one step — a concurrent reader can
    never observe a half-written JSON) or fails with FileExistsError
    because another writer got there first. A crash before the link
    leaves only a ``.tmp`` file, never an empty or truncated ``path``.
    """
    import json
    import os
    import uuid

    tmp = path + f".{uuid.uuid4().hex[:12]}.tmp"
    with open(tmp, "w") as f:
        json.dump(body, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, path)
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)
    return True


class VersionedParquetTable:
    """ACID MERGE target on plain parquet: optimistic concurrency via
    atomic manifest claims — the protocol essence of a Delta/Iceberg
    commit log, with none of the dependencies.

    Layout::

        <path>/data/v{N}-{token}/part-*.parquet   immutable snapshots
        <path>/_versions/v{N}.json                manifest: data dir of N

    A committed version is an immutable snapshot directory plus a
    manifest file. The manifest body is written to a temp file and
    ``v{N}.json`` is then claimed with an atomic ``link(2)`` — the
    manifest is complete at the instant it becomes visible, and the
    claim fails (FileExistsError) if another writer got there first.
    Atomic on a local/POSIX FS; on HDFS this maps to atomic rename,
    on S3 to a conditional PUT (If-None-Match), which is exactly how
    production table formats claim their log entries. Two writers
    racing for version N: one wins, the loser gets
    ``CommitConflict``, re-reads the new state and re-derives its
    merge — so interleaved merge batches serialize (commit order),
    and the final table equals the serial composition. Readers are
    never blocked and always see a complete snapshot (the manifest is
    written only after its data directory is fully committed).

    Reference parity: `Metadata.apply` runs inside a Postgres
    transaction (`/root/reference/oclc/classify.py:958-967`); this
    class is the cluster-scale equivalent of that transaction
    boundary. The merge plans (`policy_merge`, queue transitions)
    are unchanged — they compute post-states; this commits them.

    Production target: on a cluster with a real table format this
    class collapses to ``MERGE INTO`` on Delta/Iceberg — ``merge(fn)``
    maps to the MERGE statement, ``try_commit`` to the format's
    commit-log claim (Delta's ``_delta_log/N.json`` put-if-absent,
    Iceberg's metadata swap — the identical protocol this implements
    by hand), ``vacuum`` to ``VACUUM``/``expire_snapshots``. Not
    wired here because the sandbox has neither the delta-spark /
    iceberg-spark-runtime packages nor network to fetch their jars;
    the seam (read / merge / try_commit / vacuum) and the
    serializability test in tests/test_merge.py are format-agnostic
    and would run unchanged against the real formats.
    """

    def __init__(self, spark: SparkSession, path: str, schema=None):
        import os

        self.spark = spark
        self.path = path
        # Known table schema (DDL string or StructType). When set,
        # every read() pins it instead of inferring from parquet
        # footers — footer inference costs one Spark job PER READ,
        # a pure floor tax for tables whose schema is fixed by the
        # owning operator (measured round 9: 3 reads per matview
        # refresh cycle = 3 avoidable jobs).
        self.schema = schema
        self._versions_dir = os.path.join(path, "_versions")
        self._data_dir = os.path.join(path, "data")
        os.makedirs(self._versions_dir, exist_ok=True)
        os.makedirs(self._data_dir, exist_ok=True)

    # -- version bookkeeping ------------------------------------------------

    def current_version(self) -> int:
        import os
        import re

        best = -1
        for name in os.listdir(self._versions_dir):
            m = re.fullmatch(r"v(\d+)\.json", name)
            if m:
                best = max(best, int(m.group(1)))
        return best

    def _manifest(self, version: int) -> dict:
        import json
        import os

        with open(
            os.path.join(self._versions_dir, f"v{version}.json")
        ) as f:
            return json.load(f)

    # -- reads --------------------------------------------------------------

    def read(self, version: int | None = None) -> DataFrame:
        v = self.current_version() if version is None else version
        if v < 0:
            raise FileNotFoundError(f"{self.path}: no committed version")
        reader = self.spark.read
        if self.schema is not None:
            reader = reader.schema(self.schema)
        return reader.parquet(self._manifest(v)["data_dir"])

    # -- writes -------------------------------------------------------------

    def init(self, df: DataFrame, meta: dict | None = None) -> None:
        if not self.try_commit(-1, df, meta=meta):
            raise CommitConflict(f"{self.path}: version 0 already exists")

    def try_commit(
        self,
        base_version: int,
        post_state: DataFrame,
        meta: dict | None = None,
    ) -> bool:
        """Write ``post_state`` as version ``base_version + 1``.
        Returns False (leaving an orphaned-but-unreferenced data dir,
        cleaned up by vacuum) if another writer claimed that version
        first. The manifest claim is the linearization point.

        ``meta`` (optional, JSON-serializable) rides IN the manifest,
        so it commits atomically with the snapshot — the hook
        exactly-once sinks use to record their stream progress (e.g.
        the applied micro-batch id) in the same linearization point
        as the state itself. Mirrors Delta's ``txn`` action /
        Iceberg's snapshot summary properties.

        Meta is MERGED over the base version's meta, key-wise
        (latest wins per key), exactly like Delta's appId->version
        txn map: a commit that supplies no meta — compaction, a
        second stream keyed under a different id, any interleaved
        writer — carries the prior map forward instead of resetting
        it, so an exactly-once consumer's ``last_batch_id`` survives
        writers that know nothing about it."""
        import os
        import uuid

        if base_version >= 0:
            meta = {**self.meta(base_version), **(meta or {})}

        target = base_version + 1
        data_dir = os.path.join(
            self._data_dir, f"v{target}-{uuid.uuid4().hex[:12]}"
        )
        post_state.write.mode("overwrite").parquet(data_dir)
        manifest = os.path.join(self._versions_dir, f"v{target}.json")
        return _claim_json(
            manifest,
            {"version": target, "data_dir": data_dir, "meta": meta or {}},
        )

    def merge(
        self, fn, max_retries: int = 10, meta: dict | None = None
    ) -> int | None:
        """Optimistic MERGE: ``fn(current_state, base_meta)`` returns
        the post-state, or ``(post_state, attempt_meta)`` to commit
        per-attempt metadata (a watermark recomputed against the
        retry's snapshot). Each attempt pins the latest version; on
        conflict the next attempt re-pins and calls ``fn`` again, so
        ``fn`` always derives from the snapshot it commits over.
        ``base_meta`` is that snapshot's manifest meta (zero Spark
        jobs). ``meta`` commits atomically in the winning manifest
        (see try_commit). Returns the committed version number.

        Exactly-once micro-batches: when ``meta`` carries
        ``last_batch_id`` and the pinned base already records that id
        or a later one, the batch is a replay — nothing commits and
        the result is None. The check runs against the same pinned
        base the commit claims over, so a competing writer that
        commits the batch first makes this attempt's claim fail, and
        the retry sees the batch as applied."""
        batch_id = (meta or {}).get("last_batch_id")
        for _ in range(max_retries):
            base = self.current_version()
            base_meta = self.meta(base)
            if batch_id is not None and batch_id <= base_meta.get(
                "last_batch_id", -1
            ):
                return None
            post = fn(self.read(base), base_meta)
            attempt_meta = meta
            if isinstance(post, tuple):
                post, fn_meta = post
                attempt_meta = {**(meta or {}), **fn_meta}
            if self.try_commit(base, post, meta=attempt_meta):
                return base + 1
        raise CommitConflict(
            f"{self.path}: lost {max_retries} optimistic races"
        )

    def meta(self, version: int | None = None) -> dict:
        """The ``meta`` dict committed with a version's manifest
        (empty for versions committed without one)."""
        v = self.current_version() if version is None else version
        if v < 0:
            return {}
        return self._manifest(v).get("meta") or {}

    def changes(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Change-data-feed between two committed versions: rows
        added since ``from_version`` tagged ``insert``, rows gone
        tagged ``delete`` (multiset semantics — ``exceptAll`` keeps
        duplicate counts, so a row going 3→1 copies yields two
        deletes). An UPDATE surfaces as delete+insert, exactly like
        Delta's CDF without per-commit change files.

        Downstream incremental consumers (e.g. the admission/dedup
        state refreshers) read this instead of re-scanning the full
        snapshot. Physical rewrites (compact()) produce an EMPTY
        feed — logical content is what is diffed.
        """
        from pyspark.sql import functions as F

        old = self.read(from_version)
        # exceptAll resolves columns POSITIONALLY: realign the newer
        # snapshot to the older one's column order (a merge_fn is free
        # to emit columns in any order) or the diff is garbage.
        new = self.read(to_version).select(*old.columns)
        ins = new.exceptAll(old).withColumn("_change_type", F.lit("insert"))
        dele = old.exceptAll(new).withColumn("_change_type", F.lit("delete"))
        return ins.unionByName(dele)

    def compact(self, target_files: int = 8, max_retries: int = 10) -> int:
        """Small-file compaction — OPTIMIZE/rewrite_data_files for
        this table: commit a new version whose logical content is
        identical to the current snapshot but rewritten into
        ``target_files`` balanced files.

        Streaming ingestion through one merge() per batch accretes one
        file per batch-partition; thousands of tiny files degrade
        scans (footer reads dominate, splits shrink below row-group
        size — the inverse of the sf1 row-group lesson in
        BENCH_NOTES.md). Compaction is just another optimistic
        commit: readers are never blocked, and a concurrent merge
        either lands first (compaction retries on the merged state)
        or lands after and sees the compacted files. Old versions
        stay readable until vacuum().
        """
        return self.merge(
            lambda df, _meta: df.repartition(target_files), max_retries
        )

    def vacuum(self, retention_seconds: float = 3600.0) -> None:
        """Garbage-collect old state, concurrency-safely.

        Two classes of garbage, handled differently:

        * **Superseded versions** (< current): their manifest is
          deleted first, then their snapshot dir — so a concurrent
          ``read(version)`` either wins (opens the manifest before we
          unlink it, data still present because we delete the dir
          after) or gets a clean ``FileNotFoundError``, never a
          manifest pointing at vanished data.
        * **Unreferenced data dirs** (aborted commits, leftover
          ``.tmp`` manifests): deleted only when older than
          ``retention_seconds`` (mtime), mirroring Delta's vacuum
          retention — a dir a concurrent ``try_commit`` just wrote
          but has not yet claimed is always younger than the grace
          period, so a racing commit can never have its data swept
          out from under its manifest claim.
        """
        import os
        import shutil
        import time

        current = self.current_version()
        if current < 0:
            return
        import re

        referenced = {self._manifest(current)["data_dir"]}

        # 1. Retire superseded versions: manifest first, then data.
        for name in os.listdir(self._versions_dir):
            m = re.fullmatch(r"v(\d+)\.json", name)
            if not (m and int(m.group(1)) < current):
                continue
            manifest_path = os.path.join(self._versions_dir, name)
            try:
                data_dir = self._manifest(int(m.group(1)))["data_dir"]
            except (FileNotFoundError, ValueError):
                continue
            try:
                os.unlink(manifest_path)
            except FileNotFoundError:
                continue
            shutil.rmtree(data_dir, ignore_errors=True)

        # 2. Aborted/unclaimed leftovers, behind the retention fence.
        cutoff = time.time() - retention_seconds
        for name in os.listdir(self._data_dir):
            full = os.path.join(self._data_dir, name)
            if full in referenced:
                continue
            try:
                if os.path.getmtime(full) > cutoff:
                    continue
            except FileNotFoundError:
                continue
            shutil.rmtree(full, ignore_errors=True)
        for name in os.listdir(self._versions_dir):
            if not name.endswith(".tmp"):
                continue
            full = os.path.join(self._versions_dir, name)
            try:
                if os.path.getmtime(full) <= cutoff:
                    os.unlink(full)
            except FileNotFoundError:
                pass


class AuditReject(Exception):
    """A write-audit-publish audit vetoed the staged snapshot."""


def write_audit_publish(
    table: "VersionedParquetTable",
    fn,
    audits,
    max_retries: int = 10,
) -> int:
    """Write-audit-publish (the Iceberg WAP / Delta CDC-gate
    pattern): ``fn(current) -> post`` builds the candidate snapshot,
    every ``audit(current, post)`` must return True BEFORE the
    commit is attempted, and only an audited snapshot enters the
    optimistic-commit race. On conflict the candidate is rebuilt
    AND re-audited against the new base — an audit that passed
    against a stale snapshot proves nothing about the one actually
    published (the subtle WAP bug this helper exists to prevent).
    Raises AuditReject (no commit, no version consumed) when an
    audit fails.

    Audits are plain callables over two DataFrames so they run as
    Spark jobs (count deltas, null scans, FK probes) — never
    driver-side row loops.
    """

    def audited(current: DataFrame, _meta: dict) -> DataFrame:
        post = fn(current)
        for audit in audits:
            if not audit(current, post):
                raise AuditReject(
                    f"{table.path}: audit {getattr(audit, '__name__', audit)}"
                    " rejected the staged snapshot"
                )
        return post

    return table.merge(audited, max_retries)


def audit_row_delta(max_drop_frac: float = 0.5):
    """Audit: the new snapshot may not silently lose more than
    ``max_drop_frac`` of the rows (catches a bad join wiping the
    table — the classic WAP save)."""

    def check(current: DataFrame, post: DataFrame) -> bool:
        n0, n1 = current.count(), post.count()
        return n0 == 0 or n1 >= n0 * (1.0 - max_drop_frac)

    check.__name__ = f"audit_row_delta(max_drop={max_drop_frac})"
    return check


def audit_no_nulls(cols: tuple[str, ...]):
    """Audit: the named columns contain no NULLs in the candidate."""

    def check(current: DataFrame, post: DataFrame) -> bool:
        from pyspark.sql import functions as F

        pred = None
        for c in cols:
            p = F.col(c).isNull()
            pred = p if pred is None else (pred | p)
        return count_at_most(post.where(pred), 0, "merge_audit_nulls") == 0

    check.__name__ = f"audit_no_nulls{cols}"
    return check
