"""The migration kernel: set-at-a-time insert/update/skip classification.

This is the heart of the engine — the Spark-first replacement for the
reference's per-document loop (``/root/reference/src/migration.py:41-180``),
which did ONE synchronous network round-trip per document (point-read,
``src/migration.py:119-122``) plus one per write. Here the entire
container migration is a single distributed plan:

    source ──filter(valid)──┐
                            ├── left outer join on (id, pk cols) ── classify ── write per action
    target ──hash──────────-┘

and the new target state is the tagged rows plus the target rows whose
key the source lacks (:func:`merge_target_state`, one left anti join).

Operator map (SURVEY.md §2): O6 (point lookup → left join), O12
(upsert classifier), O14 (upsert merge), O21 (verification), O22
(metrics via observe), O18 (pk alignment pre-flight).

100 TB posture:

* The join shuffles both sides on the merge key once; everything
  downstream (classify, per-action split) reuses that partitioning.
* With a small target (initial loads), AQE converts the join to
  broadcast automatically.
* No second pass: one ``Observation`` on the source scan counts the
  documents and the invalid ones (``source_count``, ``errors``) and one
  on the classified rows counts insert/update/skip, both filled by the
  write job itself. Each observed node appears once in the written
  plan — :func:`merge_target_state` takes its anti-join keys from an
  unobserved copy of the source — so each counter fires once.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from sync_cosmos_db_spark.document_model import (
    SYSTEM_FIELDS,
    content_hash,
    strip_system_fields,
    validity_predicate,
)

#: Classifier outcomes (reference counters at ``src/migration.py:73,169-176``).
ACTION_INSERT = "insert"
ACTION_UPDATE = "update"
ACTION_SKIP = "skip"


@dataclass
class MigrationResult:
    """Per-container result mirroring the reference's summary dict
    (``src/migration.py:169-176``) plus verification (``:182-211``)."""

    container: str
    inserted: int = 0
    updated: int = 0
    skipped: int = 0
    errors: int = 0
    duration_sec: float = 0.0
    verified: bool | None = None
    source_count: int | None = None
    target_count: int | None = None
    extra: dict = field(default_factory=dict)

    @property
    def migrated(self) -> int:
        return self.inserted + self.updated

    def to_dict(self) -> dict:
        return {
            "container": self.container,
            "inserted": self.inserted,
            "updated": self.updated,
            "skipped": self.skipped,
            "errors": self.errors,
            "duration_sec": round(self.duration_sec, 3),
            "rate_docs_per_sec": round(
                self.migrated / self.duration_sec, 2) if self.duration_sec else None,
            "verified": self.verified,
            "source_count": self.source_count,
            "target_count": self.target_count,
            **self.extra,
        }


def check_pk_alignment(source_pk_paths: list[str],
                       target_pk_paths: list[str]) -> None:
    """O18 pre-flight: abort when source/target partition-key path lists
    differ — reference ``src/migration.py:52-58``. Full hierarchical list
    compared (the reference truncates on container creation; we don't)."""
    if list(source_pk_paths) != list(target_pk_paths):
        raise ValueError(
            "Partition key paths do not match: "
            f"source={source_pk_paths} target={target_pk_paths}")


def classify_actions(source: DataFrame, target: DataFrame,
                     keys: list[str]) -> DataFrame:
    """Tag every source row insert/update/skip against the target (O6+O12).

    The reference decided this per document with a point-read + dict
    compare (``src/migration.py:117-148``); here it is one left outer
    join on the merge key and a hash comparison:

    * target key NULL            → ``insert``   (``CosmosResourceNotFoundError`` path)
    * content hashes differ      → ``update``   (replace_item path)
    * content hashes equal       → ``skip``     (dedup short-circuit)

    Only ``(keys, hash)`` is taken from the target side — Catalyst prunes
    every other target column out of the scan, so at 100 TB the join
    ships 40-byte digests, not documents.
    """
    compare_cols = [c for c in source.columns
                    if c not in keys and c not in SYSTEM_FIELDS]
    src_hash = source.withColumn("__src_hash", content_hash(compare_cols))
    tgt_slim = (
        strip_system_fields(target)
        .withColumn("__tgt_hash", content_hash(compare_cols))
        .select(*keys, "__tgt_hash", F.lit(True).alias("__tgt_exists"))
    )

    joined = src_hash.join(tgt_slim, on=keys, how="left_outer")
    return (
        joined.withColumn(
            "action",
            F.when(F.col("__tgt_exists").isNull(), F.lit(ACTION_INSERT))
            .when(F.col("__src_hash") != F.col("__tgt_hash"), F.lit(ACTION_UPDATE))
            .otherwise(F.lit(ACTION_SKIP)),
        )
        .drop("__src_hash", "__tgt_hash", "__tgt_exists")
    )


def merge_target_state(tagged: DataFrame, source: DataFrame,
                       target: DataFrame, keys: list[str]) -> DataFrame:
    """The post-migration target state: every tagged source row plus
    every target row whose key ``source`` lacks.

    This is the one merge rule of both write paths (the container
    migration and the change-feed catch-up). The reference upserts each
    source document and never deletes (``src/migration.py:132-146``),
    so a target-only document survives unchanged: it is neither
    sanitized nor stripped, and ``unionByName`` with missing columns
    keeps every field it has. ``source`` is the frame ``tagged`` was
    classified from, or an unobserved copy of it; taking the anti-join
    keys from it, not from ``tagged``, keeps every ``observe`` upstream
    of ``tagged`` to one occurrence in the plan, so its counters fire
    once per write.
    """
    kept = target.join(source.select(*keys), keys, "left_anti")
    return tagged.drop("action").unionByName(kept, allowMissingColumns=True)


def migrate_container(
    source: DataFrame,
    target: DataFrame,
    keys: list[str],
    container: str = "container",
    sanitize: bool = False,
    writer=None,
) -> tuple[DataFrame, MigrationResult]:
    """Full migration pipeline for one container; returns the action-tagged
    DataFrame and the counters, which the write itself fills: the
    quadruple plus ``source_count``.

    Pipeline (SURVEY.md §3): validate/quarantine (O7) → strip system
    fields (O10) → classify (O6/O11/O12) → optional sanitize (O19) →
    merge with the target (:func:`merge_target_state`) → write (O13/O14)
    → metrics (O22). ``writer`` receives the new target state; without
    one, the tagged rows go to a ``noop`` sink for the counters alone.
    """
    import time

    from sync_cosmos_db_spark.sanitizer import sanitize_dataframe

    start = time.monotonic()
    valid = F.coalesce(validity_predicate(keys[0], keys[1:]), F.lit(False))
    scanned = Observation(f"source:{container}")
    observed = source.observe(
        scanned,
        F.count(F.lit(1)).alias("source_count"),
        F.count(F.when(~valid, 1)).alias("errors"),
    )
    clean = strip_system_fields(observed.filter(valid))
    tagged = classify_actions(clean, target, keys)
    if sanitize:
        # The reference sanitizes only documents it WRITES (the gate sits
        # inside the update/insert branches, ``src/migration.py:132-146``);
        # skipped documents keep their original target content. The gate
        # is a per-row condition INSIDE one projection — a filter/union
        # split would evaluate the classify join once per branch.
        tagged = sanitize_dataframe(
            tagged, only_when=F.col("action") != ACTION_SKIP)

    classified = Observation(f"migration:{container}")
    tagged = tagged.observe(
        classified,
        F.count(F.when(F.col("action") == ACTION_INSERT, 1)).alias("inserted"),
        F.count(F.when(F.col("action") == ACTION_UPDATE, 1)).alias("updated"),
        F.count(F.when(F.col("action") == ACTION_SKIP, 1)).alias("skipped"),
    )

    if writer is not None:
        unobserved = strip_system_fields(source.filter(valid))
        writer(merge_target_state(tagged, unobserved, target, keys))
    else:
        tagged.write.format("noop").mode("overwrite").save()

    result = MigrationResult(
        container=container,
        **classified.get,
        **scanned.get,
        duration_sec=time.monotonic() - start,
    )
    return tagged, result


def same_documents(source: DataFrame, target: DataFrame) -> bool:
    """Content-level check: ``source`` and ``target`` hold the same
    multiset of documents over ``source``'s non-system fields.

    One aggregate scans each side once: the union of both sides,
    weighted +1 and -1, grouped by every column; the sides are equal
    when no group's weight sums to non-zero. This is the rewrite Spark
    applies to one ``exceptAll``, so it answers exactly what the two
    ``exceptAll`` directions together answered.
    """
    cols = [c for c in source.columns if c not in SYSTEM_FIELDS]

    def weighted(df: DataFrame, w: int) -> DataFrame:
        return strip_system_fields(df).select(*cols, F.lit(w).alias("__w"))

    return (weighted(source, 1).unionByName(weighted(target, -1))
            .groupBy(*cols).agg(F.sum("__w").alias("__w"))
            .filter(F.col("__w") != 0)
            .isEmpty())


def verify_migration(source: DataFrame, target: DataFrame,
                     strong: bool = False) -> tuple[bool, int, int]:
    """O21 verification — count equality like the reference
    (``src/migration.py:182-211``), optionally strengthened with the
    content-level multiset check :func:`same_documents`.

    For two bare DataFrames the counts are two ``count()`` jobs. The
    container migration does not call this: it takes the source count
    from the write's observation and the target count from the written
    files' footers, and shares only :func:`same_documents`.
    """
    src_count = source.count()
    tgt_count = target.count()
    ok = src_count == tgt_count
    if ok and strong:
        ok = same_documents(source, target)
    return ok, src_count, tgt_count


def snapshot_diff(old: DataFrame, new: DataFrame, key_col: str
                  ) -> DataFrame:
    """Symmetric snapshot diff: classify every key across two snapshots
    of a keyed table as ``added`` / ``removed`` / ``changed`` /
    ``unchanged``.

    The superset of the one-directional insert/update/skip classifier
    (``classify_actions`` — the reference's sync semantics,
    ``src/migration.py:124-131``, which can never observe deletions
    because it only iterates the source).  Returns ``(key, change)``.

    Shape: both sides reduce to ``(key, content_hash)`` projections —
    256-bit digests instead of full rows — then ONE full outer join on
    the key.  At 100 TB the join ships 40-byte rows, not documents, and
    the hash computation is a map-side projection on each scan.
    """
    cols = sorted(c for c in old.columns if c != key_col and c in new.columns)
    o = old.select(F.col(key_col).alias("key"),
                   content_hash(cols).alias("__oh"))
    n = new.select(F.col(key_col).alias("key"),
                   content_hash(cols).alias("__nh"))
    j = o.join(n, "key", "full_outer")
    change = (F.when(F.col("__oh").isNull(), F.lit("added"))
              .when(F.col("__nh").isNull(), F.lit("removed"))
              .when(F.col("__oh") != F.col("__nh"), F.lit("changed"))
              .otherwise(F.lit("unchanged")))
    return j.select("key", change.alias("change"))
