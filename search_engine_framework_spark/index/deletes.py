"""Document deletes: tombstones + physical purge.

The reference reads a static Lucene index and has no delete path; a
living transcript corpus needs one (data governance: remove a user's
conversations, enforce retention windows). The design is Lucene's
two-phase model, re-expressed for the parquet segment layout:

* ``delete_docs`` — LOGICAL delete: resolve the victims against the
  docmap and append their doc_ids to a ``tombstones`` parquet dir.
  Queries exclude them immediately (``IndexReader`` anti-joins every
  posting/doclen/doc_terms/docmap read against the tombstone set —
  including the block-max seed pass, so a deleted doc can never inflate
  the top-k pruning threshold). Collection statistics (N, df, ctf) keep
  counting tombstoned docs until a purge — exactly Lucene's behavior,
  where docFreq includes deleted docs until segments merge. Idempotent:
  re-deleting the same docs appends duplicate ids, which the distinct
  anti-join absorbs.

* ``purge_deletes`` — PHYSICAL delete (the segment-merge analog):
  rewrite docmap/doc_terms/doclen without the victims, rebuild the
  posting segments from the filtered forward index (NO re-tokenization —
  the forward index already carries the encoded position blobs; this is
  ``build_index``'s resume fast path on a staged root), recompute
  collection stats, and atomically swap the whole staged index root into
  place. Surviving docs KEEP their doc_ids (gaps in the id space are
  fine everywhere — posting blocks are gap-coded, queries join on
  doc_id); the id high-water mark is preserved in ``stats.max_doc`` so
  later appends never reuse a live id (streaming/incremental.py).

Crash safety (``recover_purge``): the staged root is built under
``<index>.purging`` and marked complete with a ``.purge_complete`` file
before the swap; the swap itself is rename(live → .old), rename(staged →
live), delete(.old). Every intermediate state holds a complete index at
one of the three names, and recovery rolls forward (complete staging)
or back (incomplete staging / leftover .old) deterministically.

Replay caveat (documented, Lucene-like): a purge removes the victims
from the docmap, so replaying a PRE-purge streaming micro-batch that
contained them would re-add them as new docs. Retire or checkpoint past
old batches before purging, or re-issue the delete.
"""

from __future__ import annotations

import json
import os
import shutil
from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from ..functions.analyzer import AnalyzerConfig
from .build import IndexPaths, build_index, collection_stats

PURGE_MARKER = ".purge_complete"


def _rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def delete_docs(
    spark: SparkSession,
    out_dir: str,
    conv_ids=None,
    ext_ids=None,
    doc_ids=None,
    predicate: Column | None = None,
) -> int:
    """Tombstone every doc matching ANY of the selectors; returns how many
    doc_ids were marked (0 when nothing matches — also a no-op on disk).

    Selectors: ``conv_ids`` (whole conversations), ``ext_ids`` /
    ``doc_ids`` (individual turns), ``predicate`` (arbitrary Column over
    the docmap's columns — e.g. ``F.col("ts") < F.lit(cutoff)`` for a
    retention window; the docmap is metadata-only, so ``text`` is not
    available to predicates). At least one is required."""
    conds = []
    if conv_ids is not None:
        conds.append(F.col("conv_id").isin([str(c) for c in conv_ids]))
    if ext_ids is not None:
        conds.append(F.col("ext_id").isin([str(e) for e in ext_ids]))
    if doc_ids is not None:
        conds.append(F.col("doc_id").isin([int(d) for d in doc_ids]))
    if predicate is not None:
        conds.append(predicate)
    if not conds:
        raise ValueError(
            "delete_docs needs conv_ids, ext_ids, doc_ids, or a predicate"
        )
    paths = IndexPaths(out_dir)
    docmap = spark.read.parquet(paths.docmap)
    victims = (
        docmap.where(reduce(lambda a, b: a | b, conds))
        .select("doc_id")
        .distinct()
        .persist()  # one docmap scan feeds both the count and the write
    )
    try:
        n = victims.count()
        if n:
            victims.write.mode("append").parquet(paths.tombstones)
    finally:
        victims.unpersist()
    return n


def pending_deletes(spark: SparkSession, out_dir: str) -> int:
    """Distinct tombstoned doc_ids awaiting purge (0 when none)."""
    paths = IndexPaths(out_dir)
    if not os.path.isdir(paths.tombstones):
        return 0
    try:
        return (
            spark.read.parquet(paths.tombstones)
            .select("doc_id").distinct().count()
        )
    except Exception:
        return 0


def recover_purge(paths: IndexPaths | str) -> None:
    """Finish or roll back an interrupted ``purge_deletes`` swap.

    * live missing + staged root complete (has the marker) → roll
      FORWARD: rename staged into place.
    * live missing + ``.old`` backup present → roll BACK: restore it.
    * live present → drop any leftover backup; drop an INCOMPLETE staged
      root (the next purge redoes it from the still-intact tombstones).
    """
    paths = paths if isinstance(paths, IndexPaths) else IndexPaths(paths)
    live = paths.root
    staged = live + ".purging"
    backup = live + ".old"
    live_ok = os.path.isdir(os.path.join(live, "segments"))
    staged_ok = os.path.isdir(staged) and os.path.exists(
        os.path.join(staged, PURGE_MARKER)
    )
    if not live_ok and staged_ok:
        _rmtree(live)
        os.rename(staged, live)
        os.remove(os.path.join(live, PURGE_MARKER))
        _rmtree(backup)
        return
    if not live_ok and os.path.isdir(os.path.join(backup, "segments")):
        _rmtree(live)
        os.rename(backup, live)
    if os.path.isdir(os.path.join(live, "segments")):
        _rmtree(backup)
        if os.path.isdir(staged) and not staged_ok:
            _rmtree(staged)


def purge_deletes(
    spark: SparkSession,
    out_dir: str,
) -> dict:
    """Physically remove all tombstoned docs; returns
    ``{"purged": n, "remaining": live_docs}``.

    Layout parameters (buckets, salts, block size, analyzer) come from
    the index's own build lineage so the purged index is scan-compatible
    with the original — same bucket hash, same analyzer parity
    fingerprint. No re-tokenization happens: segments rebuild from the
    filtered forward index via ``build_index``'s resume fast path.
    """
    paths = IndexPaths(out_dir)
    recover_purge(paths)
    if not os.path.isdir(paths.tombstones):
        return {"purged": 0, "remaining": None}
    tomb = spark.read.parquet(paths.tombstones).select("doc_id").distinct()
    if tomb.limit(1).count() == 0:  # dir exists, nothing marked
        _rmtree(paths.tombstones)
        return {"purged": 0, "remaining": None}
    # Snapshot the tombstone FILES backing this purge: deletes issued
    # while the rebuild runs land as new part files, and those must
    # survive the swap (carried into the staged root below) or a
    # successful delete_docs call would be silently undone.
    tomb_snapshot = {
        f for f in os.listdir(paths.tombstones) if f.endswith(".parquet")
    }

    # layout + analyzer from lineage (same source the reader trusts)
    from .reader import IndexReader

    reader = IndexReader(spark, paths)
    lin = reader.lineage
    if not lin:
        raise ValueError(
            f"{out_dir} has no bucket manifests/lineage; cannot prove the "
            "purged index would be scan-compatible"
        )
    cfg = AnalyzerConfig.from_lineage(lin) or AnalyzerConfig.reference()
    with open(os.path.join(paths.manifests, "base.json")) as fh:
        base = json.load(fh)
    fields = tuple(base.get("fields") or lin.get("fields") or ("body",))
    max_doc = reader.stats.get("max_doc", reader.stats["N"])

    staged = paths.root + ".purging"
    _rmtree(staged)
    spaths = IndexPaths(staged)
    os.makedirs(spaths.manifests, exist_ok=True)

    docmap = spark.read.parquet(paths.docmap)
    keep = docmap.join(tomb, "doc_id", "left_anti")
    keep.write.mode("overwrite").parquet(spaths.docmap)
    keep = spark.read.parquet(spaths.docmap)
    n_keep = keep.count()
    n_purged = reader.stats["N"] - n_keep

    (
        spark.read.parquet(paths.doc_terms)
        .join(tomb, "doc_id", "left_anti")
        .write.mode("overwrite")
        .parquet(spaths.doc_terms)
    )
    doclen = (
        spark.read.parquet(spaths.doc_terms)
        .where(F.col("term").isNull())
        .select("doc_id", "field", "doclen")
    )
    doclen.write.mode("overwrite").parquet(spaths.doclen)
    stats = collection_stats(
        spark.read.parquet(spaths.doclen), n_keep, max_doc=max_doc
    )
    with open(spaths.stats, "w") as fh:
        json.dump(stats, fh, indent=2, sort_keys=True)
    with open(os.path.join(spaths.manifests, "base.json"), "w") as fh:
        json.dump(
            {
                "complete": True,
                "n_docs": n_keep,
                "fields": list(fields),
                "purged_from": paths.root,
                "purged_docs": n_purged,
            },
            fh, indent=2, sort_keys=True,
        )

    # resume fast path: skips tokenize, encodes segments from the staged
    # forward index, writes per-bucket manifests with this lineage
    build_index(
        spark, keep, staged, fields=fields, cfg=cfg,
        n_buckets=int(lin.get("n_buckets") or 32),
        n_salts=int(lin.get("n_salts") or 8),
        block_size=int(lin.get("block_size") or 128),
        resume=True,
    )
    # Carry over tombstones written AFTER the snapshot (concurrent
    # delete_docs during the rebuild): they stay pending in the new root.
    # Re-tombstoning an id this purge already removed is harmless — the
    # anti-join and the next purge both absorb ids with no live rows.
    late = [
        f
        for f in os.listdir(paths.tombstones)
        if f.endswith(".parquet") and f not in tomb_snapshot
    ]
    if late:
        os.makedirs(spaths.tombstones, exist_ok=True)
        for f in late:
            shutil.copy2(
                os.path.join(paths.tombstones, f),
                os.path.join(spaths.tombstones, f),
            )

    with open(os.path.join(staged, PURGE_MARKER), "w") as fh:
        fh.write("complete\n")

    backup = paths.root + ".old"
    _rmtree(backup)
    os.rename(paths.root, backup)
    try:
        os.rename(staged, paths.root)
    except OSError:
        os.rename(backup, paths.root)  # restore the live index
        raise
    os.remove(os.path.join(paths.root, PURGE_MARKER))
    _rmtree(backup)
    return {"purged": int(n_purged), "remaining": int(n_keep)}
