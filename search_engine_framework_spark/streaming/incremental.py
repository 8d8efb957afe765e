"""Incremental + streaming index maintenance.

The reference is strictly batch (one process, one pass per query —
/root/reference/src/QryEval.java:199-258) and reads a prebuilt static
Lucene index. The Spark-native extension for a living transcript corpus
(new conversations appended to the Iceberg table) is Lucene-style
*generations*:

* ``append_index`` — index a batch of NEW turns as an additional
  generation: docids continue after the existing max (arrival-order
  stable, like Lucene's), postings/doclen/docmap/doc_terms rows are
  appended, and the new generation's segment rows land as extra files in
  the same bucket-partitioned parquet layout. Queries see the union
  immediately — a (term, field) may now have one segment row per
  generation; ``IndexReader.term_stats`` sums them and posting decode is
  row-wise, so no query-side special casing.
* ``compact_index`` — the segment-merge stage across generations: the
  build's own merge stage (index/build.py ``merge_subsegments``) re-run
  over every generation's segment rows — an ordered block-run concat per
  (term, field, salt), no decode, no re-sort.
* ``stream_index`` — Structured Streaming driver: ``foreachBatch`` over a
  transcript stream, each micro-batch appended as one generation.

Appends and compaction write segments through the build's single segment
writer, with the layout (``n_buckets``, ``n_salts``, ``block_size``)
adopted from the base build's lineage, so every generation and every
compaction has the base build's shape.

Crash safety (the generation commit protocol): every append first writes
the whole generation to a staging directory, then records an
``complete=false`` gen manifest (carrying the pre/post collection stats
and the staged file list), then publishes by **renaming staged part
files into the live directories under a generation-tagged name**, then
updates stats.json, then flips the manifest to ``complete=true`` and
drops the staging dir. A crash at ANY point leaves either (a) a staging
dir + incomplete manifest → the next append (or an explicit
``reconcile_index``) finishes the idempotent publish, or (b) no manifest
→ nothing happened and the streaming checkpoint replays the batch.
Publishing by deterministic file names is what makes the redo idempotent
— re-copying overwrites the same paths instead of duplicating rows.
"""

from __future__ import annotations

import inspect
import json
import os
import time

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.analyzer import AnalyzerConfig
from ..index.build import (
    IndexPaths,
    _dir_bytes,
    _restore_conf,
    _tune_encode_partitions,
    build_index,
    build_segments,
    extract_postings,
    merge_subsegments,
    write_segments,
)
from ..index.docids import assign_doc_ids


def _rmtree(path: str) -> None:
    import shutil

    shutil.rmtree(path, ignore_errors=True)


def _gen_number(paths: IndexPaths) -> int:
    gens = [
        f for f in os.listdir(paths.manifests)
        if f.startswith("gen-") and f.endswith(".json")
    ]
    return len(gens) + 1


# staged table name → live directory attr on IndexPaths.  Order matters for
# the (unlikely) partial-copy window: docmap goes LAST so a crash mid-copy
# leaves documents absent from docmap → the replayed batch re-selects them
# (re-indexable) instead of orphaning them (in docmap but unsearchable).
_PUBLISH_ORDER = ("segments", "doc_terms", "doclen", "docmap")


def _staged_files(staging: str, table: str) -> list[str]:
    """Relative paths (under the staged table dir) of data files, including
    partition subdirs (segments/bucket=N/part-*.parquet)."""
    base = os.path.join(staging, table)
    out = []
    for root, _dirs, files in os.walk(base):
        for f in files:
            if f.endswith(".parquet"):
                out.append(os.path.relpath(os.path.join(root, f), base))
    return sorted(out)


def _publish_staged(paths: IndexPaths, staging: str, gen: int) -> None:
    """Copy every staged part file into the live table dirs under a
    deterministic ``gen-{gen}-`` name. Idempotent: re-running overwrites
    the same destination paths."""
    import shutil

    for table in _PUBLISH_ORDER:
        src_base = os.path.join(staging, table)
        if not os.path.isdir(src_base):
            continue
        dst_base = getattr(paths, table)
        for rel in _staged_files(staging, table):
            d, f = os.path.split(rel)
            dst_dir = os.path.join(dst_base, d) if d else dst_base
            os.makedirs(dst_dir, exist_ok=True)
            tmp = os.path.join(dst_dir, f".gen-{gen:05d}-{f}.tmp")
            shutil.copyfile(os.path.join(src_base, rel), tmp)
            os.replace(tmp, os.path.join(dst_dir, f"gen-{gen:05d}-{f}"))


def _remove_published(paths: IndexPaths, gen: int) -> None:
    """Delete any live files a (partial) publish of ``gen`` created."""
    prefix = f"gen-{gen:05d}-"
    for table in _PUBLISH_ORDER:
        base = getattr(paths, table)
        if not os.path.isdir(base):
            continue
        for root, _dirs, files in os.walk(base):
            for f in files:
                if f.startswith(prefix) or f.startswith("." + prefix):
                    os.remove(os.path.join(root, f))


def recover_compaction(paths: IndexPaths | str) -> None:
    """Repair an interrupted ``compact_index`` swap. The three directory
    states are self-describing (see compact_index's swap protocol):

    * live segments present → any leftover ``.compacting``/``.old`` dirs
      are stale (crash before the swap started, or after it finished):
      delete them.
    * live missing, ``.compacting`` complete (has ``_SUCCESS``) → roll
      FORWARD: rename it into place, drop the backup.
    * live missing, ``.compacting`` absent/partial → roll BACK: rename
      ``.old`` into place, drop the partial.
    """
    paths = paths if isinstance(paths, IndexPaths) else IndexPaths(paths)
    live = paths.segments
    tmp = live + ".compacting"
    backup = live + ".old"
    if os.path.isdir(live):
        _rmtree(tmp)
        _rmtree(backup)
        return
    if os.path.isdir(tmp) and os.path.exists(os.path.join(tmp, "_SUCCESS")):
        os.rename(tmp, live)
        _rmtree(backup)
        return
    if os.path.isdir(backup):
        _rmtree(tmp)
        os.rename(backup, live)


def reconcile_index(paths: IndexPaths | str) -> None:
    """Finish (or roll back) any generation whose manifest is incomplete,
    and repair an interrupted compaction swap.

    * staging dir still present → redo the publish (idempotent), rewrite
      stats.json from the manifest's ``stats_after``, mark complete.
    * staging dir gone (cannot redo) → remove any partially published
      files, restore ``stats_before``, drop the manifest; the streaming
      checkpoint will replay the batch.
    * complete manifest whose staging dir still exists (crash between the
      complete flip and the staging delete) → drop the leaked staging dir.
    """
    paths = paths if isinstance(paths, IndexPaths) else IndexPaths(paths)
    from ..index.deletes import recover_purge

    recover_purge(paths)  # interrupted whole-root purge swap first
    recover_compaction(paths)
    if not os.path.isdir(paths.manifests):
        return
    for name in sorted(os.listdir(paths.manifests)):
        if not (name.startswith("gen-") and name.endswith(".json")):
            continue
        mpath = os.path.join(paths.manifests, name)
        with open(mpath) as fh:
            m = json.load(fh)
        if m.get("complete"):
            if os.path.isdir(m.get("staging", "")):
                _rmtree(m["staging"])
            continue
        gen = int(m["generation"])
        staging = m["staging"]
        if os.path.isdir(staging):
            _publish_staged(paths, staging, gen)
            with open(paths.stats, "w") as fh:
                json.dump(m["stats_after"], fh, indent=2, sort_keys=True)
            m["complete"] = True
            m["reconciled"] = True
            with open(mpath, "w") as fh:
                json.dump(m, fh, indent=2, sort_keys=True)
            _rmtree(staging)
        else:
            _remove_published(paths, gen)
            with open(paths.stats, "w") as fh:
                json.dump(m["stats_before"], fh, indent=2, sort_keys=True)
            os.remove(mpath)


def _lineage_n_buckets(lin: dict, n_buckets: int | None, verb: str) -> int:
    """The base build's bucket count from its lineage. The segment
    layout's bucket column AND query-time bucket pruning both derive from
    pmod(xxhash64(term, field), n_buckets) — a generation appended with a
    different count would land postings in directories the pruned scan
    never opens (silent data loss), so appends/compactions use the
    recorded value, and a conflicting explicit one raises."""
    recorded = int(lin["n_buckets"]) if lin.get("n_buckets") else None
    if n_buckets is None:
        return recorded or 32
    if recorded and n_buckets != recorded:
        raise ValueError(
            f"n_buckets={n_buckets} conflicts with the index's recorded "
            f"bucket count {recorded}; {verb} postings would be "
            "invisible to the bucket-pruned scan"
        )
    return n_buckets


def append_index(
    spark: SparkSession,
    new_transcripts: DataFrame,
    out_dir: str,
    fields: tuple[str, ...] | None = None,
    cfg: AnalyzerConfig | None = None,
    n_buckets: int | None = None,
) -> int:
    """Append a batch of new turns to an existing index; returns the number
    of turns actually indexed (rows whose (conv_id, turn_idx) already exist
    are skipped, making replayed micro-batches idempotent at the document
    level). See the module docstring for the crash-safe commit protocol.

    ``n_buckets``, ``fields``, and ``cfg`` all default to the base build's
    recorded values (bucket-manifest lineage / base.json); passing a
    conflicting value raises. A generation tokenized with a different
    analyzer (or missing a field) would be silently unsearchable — queries
    adopt the RECORDED analyzer at engine open, so appended postings
    stemmed differently never match. ``n_salts`` and ``block_size`` are
    always the recorded values: the generation's segment rows come from
    the build's own encode + merge (index/build.py ``build_segments``)."""
    from ..index.reader import read_index_lineage

    paths = IndexPaths(out_dir)
    reconcile_index(paths)  # finish any interrupted predecessor first
    lin = read_index_lineage(paths)
    n_buckets = _lineage_n_buckets(lin, n_buckets, "appended")
    recorded_cfg = AnalyzerConfig.from_lineage(lin)
    if cfg is None:
        cfg = recorded_cfg  # None-on-None → build default, same as base
    elif recorded_cfg is not None and cfg != recorded_cfg:
        raise ValueError(
            f"analyzer {cfg} conflicts with the index's recorded analyzer "
            f"{recorded_cfg}; pass cfg=None to adopt the index's analyzer"
        )
    impl_recorded = lin.get("stemmer_impl")
    if impl_recorded:
        from ..functions.stemmer import stemmer_impl

        current = stemmer_impl((cfg or AnalyzerConfig.reference()).stemmer)
        if current != impl_recorded:
            raise ValueError(
                f"index was built with stemmer implementation "
                f"{impl_recorded!r} but the current code resolves to "
                f"{current!r} — appended postings would stem differently; "
                "rebuild the index"
            )
    recorded_fields = None
    base_manifest = os.path.join(paths.manifests, "base.json")
    if os.path.exists(base_manifest):
        with open(base_manifest) as fh:
            bf = json.load(fh).get("fields")
        recorded_fields = tuple(bf) if bf else None
    if fields is None:
        fields = recorded_fields or ("body",)
    elif recorded_fields and tuple(fields) != recorded_fields:
        raise ValueError(
            f"fields={tuple(fields)} conflicts with the index's recorded "
            f"fields {recorded_fields}; appended docs would miss postings "
            "for the absent fields"
        )
    with open(paths.stats) as fh:
        stats_before = json.load(fh)
    # New docids start past the id-space high-water mark, NOT past the
    # live-doc count: after a delete purge (index/deletes.py) N shrinks
    # but survivors keep their ids, so starting at N would reuse one.
    # (Indexes from before the max_doc field: N == max_doc by construction.)
    base_n = stats_before.get("max_doc", stats_before["N"])
    t0 = time.time()

    # Idempotency anti-join against the LIVE docmap: tombstoned docs
    # (index/deletes.py) must not block re-ingestion — a corrected
    # version of a deleted document re-indexes as a NEW doc (fresh id),
    # while the tombstoned original stays masked until its purge. A
    # replayed batch containing a doc deleted AFTER its original ingest
    # is re-added by the same rule — deletes are point-in-time, not
    # forever-bans (module docstring, replay caveat).
    existing = spark.read.parquet(paths.docmap)
    if os.path.isdir(paths.tombstones):
        try:
            tomb = spark.read.parquet(paths.tombstones).select("doc_id").distinct()
            existing = existing.join(tomb, "doc_id", "left_anti")
        except Exception:
            pass  # dir exists but holds no readable parquet yet
    existing = existing.select("conv_id", "turn_idx")
    fresh = new_transcripts.join(existing, ["conv_id", "turn_idx"], "left_anti")

    # Stage the generation OUTSIDE the live index paths: appending to a
    # path this lineage also reads (docmap feeds the anti-join) would
    # re-evaluate downstream plans against the just-appended files.
    gen = _gen_number(paths)
    staging = os.path.join(paths.root, "_staging", f"gen-{gen:05d}")
    _rmtree(staging)
    docs = assign_doc_ids(fresh, start=base_n)
    try:
        # SLIM docmap (no text payload) — must stay schema-consistent with
        # the base build's docmap (index/build.py) or cross-generation
        # reads break.
        slim_cols = [c for c in docs.columns if c != "text"]
        docs.select(*slim_cols).write.mode("overwrite").parquet(
            os.path.join(staging, "docmap")
        )
        n_new = getattr(docs, "_sefs_n_docs", None)
        if n_new is None:
            n_new = spark.read.parquet(
                os.path.join(staging, "docmap")
            ).count()
        if n_new == 0:
            _rmtree(staging)
            return 0

        # Tokenization chains from the assigned batch directly (the
        # anti-join against the live docmap re-runs for this action, but
        # it reads the PRE-publish docmap either way — staging keeps the
        # lineage stable).
        extract_postings(docs, fields=fields, cfg=cfg).write.mode(
            "overwrite"
        ).parquet(os.path.join(staging, "doc_terms"))
    finally:
        # Release the persisted conv stats even if a staged write fails —
        # everything below reads the staged parquet, and a stale entry
        # would be replayed into the NEXT append's identical-looking
        # assignment plan (see assign_doc_ids).
        docs._sefs_unpersist()
    delta = spark.read.parquet(os.path.join(staging, "doc_terms"))

    # doclen = the tokenizer's NULL-term marker rows (map-only; covers
    # zero-token docs too — see index.build.extract_postings).
    doclen = delta.where(F.col("term").isNull()).select(
        "doc_id", "field", "doclen"
    )
    doclen.write.mode("overwrite").parquet(os.path.join(staging, "doclen"))
    doclen = spark.read.parquet(os.path.join(staging, "doclen"))

    # New generation's segment rows: the base build's encode + merge with
    # its recorded layout, and its encode-scan split size (bounded
    # executor-python memory per task, see _tune_encode_partitions).
    old_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
    try:
        _tune_encode_partitions(
            spark, _dir_bytes(os.path.join(staging, "doc_terms")),
            max(1, spark.sparkContext.defaultParallelism),
        )
        write_segments(
            build_segments(
                delta,
                n_buckets=n_buckets,
                block_size=int(lin.get("block_size") or 128),
                n_salts=int(lin.get("n_salts") or 8),
            ),
            os.path.join(staging, "segments"),
        )
    finally:
        _restore_conf(spark, "spark.sql.files.maxPartitionBytes", old_mpb)

    # Post-publish collection stats, computed BEFORE publishing so the
    # incomplete manifest carries both sides of the transition.
    delta_stats = (
        doclen.groupBy("field")
        .agg(
            F.sum("doclen").alias("sum_doclen"),
            F.count(F.when(F.col("doclen") > 0, 1)).alias("doc_count"),
        )
        .collect()
    )
    stats_after = json.loads(json.dumps(stats_before))  # deep copy
    stats_after["N"] = stats_before["N"] + n_new
    stats_after["max_doc"] = base_n + n_new
    for r in delta_stats:
        f_ = stats_after["fields"].setdefault(
            r["field"], {"sum_doclen": 0, "doc_count": 0}
        )
        f_["sum_doclen"] += int(r["sum_doclen"] or 0)
        f_["doc_count"] += int(r["doc_count"])

    manifest_path = os.path.join(paths.manifests, f"gen-{gen:05d}.json")
    manifest = {
        "generation": gen,
        "complete": False,
        "staging": staging,
        "n_new_turns": n_new,
        "doc_id_range": [base_n, base_n + n_new - 1],
        "stats_before": stats_before,
        "stats_after": stats_after,
    }
    with open(manifest_path, "w") as fh:
        json.dump(manifest, fh, indent=2, sort_keys=True)

    # publish (crash after any step here is repaired by reconcile_index)
    _publish_staged(paths, staging, gen)
    with open(paths.stats, "w") as fh:
        json.dump(stats_after, fh, indent=2, sort_keys=True)
    manifest["complete"] = True
    manifest["seconds"] = round(time.time() - t0, 3)
    manifest["turns_per_sec"] = round(n_new / max(time.time() - t0, 1e-9), 1)
    with open(manifest_path, "w") as fh:
        json.dump(manifest, fh, indent=2, sort_keys=True)
    _rmtree(staging)
    return n_new


def compact_index(
    spark: SparkSession,
    out_dir: str,
    n_buckets: int | None = None,
) -> None:
    """Merge all generations' segment rows per (term, field, salt): the
    build's merge stage (index/build.py ``merge_subsegments``) over the
    live segment table — an ordered block-run concat, no decode. The salt
    bounds a head term to ≤ ``n_salts`` rows exactly as in the base build.

    Swap protocol: write compacted segments to ``segments.compacting``,
    rename live → ``segments.old``, rename compacted into place, delete
    the backup — every intermediate state leaves a complete segments
    directory on disk (live or backup, recoverable by
    ``recover_compaction``), unlike a delete-then-rename.

    ``n_buckets`` defaults to the index's recorded bucket count (see
    ``_lineage_n_buckets``); a conflicting explicit value raises.
    ``n_salts`` is always the recorded value.

    Orthogonal to deletes: compaction merges generation block runs
    without decoding, so tombstoned docs (index/deletes.py) survive it —
    doc_ids are unchanged, the tombstone set stays valid, and queries
    keep masking. Physical removal is ``purge_deletes``."""
    from ..index.reader import read_index_lineage

    paths = IndexPaths(out_dir)
    recover_compaction(paths)
    lin = read_index_lineage(paths)
    n_buckets = _lineage_n_buckets(lin, n_buckets, "compacted")
    merged = merge_subsegments(
        spark.read.parquet(paths.segments),
        n_buckets=n_buckets,
        n_salts=int(lin.get("n_salts") or 8),
    )
    tmp = paths.segments + ".compacting"
    backup = paths.segments + ".old"
    _rmtree(tmp)
    write_segments(merged, tmp)
    # recover_compaction's roll-forward keys on the _SUCCESS marker; if a
    # foreign conf suppressed it, fail BEFORE touching the live dir.
    if not os.path.exists(os.path.join(tmp, "_SUCCESS")):
        raise RuntimeError(
            f"compacted segments at {tmp} lack a _SUCCESS marker; "
            "aborting swap (crash recovery would be unable to roll forward)"
        )
    _rmtree(backup)
    os.rename(paths.segments, backup)
    try:
        os.rename(tmp, paths.segments)
    except OSError:
        os.rename(backup, paths.segments)  # restore the live dir
        raise
    _rmtree(backup)


def _accepted_kwargs(fn, kwargs: dict) -> dict:
    sig = inspect.signature(fn)
    return {k: v for k, v in kwargs.items() if k in sig.parameters}


def stream_index(
    spark: SparkSession,
    transcript_stream: DataFrame,
    out_dir: str,
    checkpoint: str,
    fields: tuple[str, ...] | None = None,
    cfg: AnalyzerConfig | None = None,
    available_now: bool = True,
    **build_kwargs,
):
    """Structured-Streaming index maintenance: every micro-batch becomes one
    generation (the first batch bootstraps the index). Returns the
    StreamingQuery; with ``available_now`` the query drains what is
    currently available and stops (periodic-batch deployment shape).

    ``build_kwargs`` may carry options for either callee (e.g.
    ``n_salts``/``block_size``/``resume`` for the bootstrap
    ``build_index``); each call receives only the keys its signature
    accepts. Later batches' appends adopt the bootstrap build's recorded
    layout, so ``n_buckets``/``n_salts``/``block_size`` passed here shape
    every generation.
    """
    paths = IndexPaths(out_dir)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if not os.path.exists(paths.stats):
            build_index(
                spark, batch_df, out_dir, fields=fields or ("body",),
                cfg=cfg,
                **_accepted_kwargs(build_index, build_kwargs),
            )
        else:
            append_index(
                spark, batch_df, out_dir, fields=fields, cfg=cfg,
                **_accepted_kwargs(append_index, build_kwargs),
            )

    writer = (
        transcript_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
