"""Physical index merge — the Lucene ``IndexWriter.addIndexes`` /
``forceMerge(expungeDeletes)`` analog.

:mod:`.multi`'s MultiReader unions indexes VIRTUALLY (per query, every
sub-index is scanned and statistics merge at search time).
``merge_indexes`` does it PHYSICALLY, once: N source indexes become one
on-disk index with

* doc ids rebased by cumulative ``max_doc`` offsets (the same docBase
  arithmetic as MultiReader, made permanent),
* tombstoned docs **expunged** — their postings, doclen and docmap rows
  simply never enter the merged index (Lucene's expungeDeletes), so the
  merged index starts with zero pending deletes and id-space gaps where
  deleted docs were (already the engine's post-purge invariant),
* segments re-encoded through the build's single segment writer
  (:func:`..index.build._build_index_body`) from the UNION of the
  sources' forward indexes — no re-tokenization (the forward index
  already holds analyzed terms + position blobs), so the expensive
  Python crossing never re-runs; cost is one segment encode over the
  combined postings, exactly an append's shape,
* ``stats.json`` with summed live ``N`` per the union and ``max_doc`` =
  Σ source max_doc, so later appends cannot collide with any id ever
  issued by any source.

Safety rails (fail loudly, never silently corrupt):

* analyzer lineage + stemmer implementation must be identical across
  sources (merging indexes tokenized differently is meaningless — the
  same check :class:`..engine.SearchEngine` applies at query time);
* field sets must match;
* ``ext_id`` must be globally unique after the union (duplicate
  external ids would corrupt id lookups and trec output) — checked
  with one count/countDistinct aggregation before anything is written.

100 TB posture: the merge is two map-only unions (docmap, forward
index; tombstone anti-joins broadcast their small right sides) plus
the standard segment-encode shuffle — the same cost profile as
building the combined index from already-tokenized data. Nothing
corpus-sized reaches the driver.
"""

from __future__ import annotations

import os
import time

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.analyzer import AnalyzerConfig
from .build import (
    IndexPaths,
    _build_index_body,
    _dir_bytes,
    _restore_conf,
    _tune_encode_partitions,
)
from .reader import IndexReader

__all__ = ["merge_indexes"]


def _rebase(df: DataFrame, base: int, tomb: DataFrame | None) -> DataFrame:
    if tomb is not None:
        df = df.join(F.broadcast(tomb), "doc_id", "left_anti")
    return df.withColumn("doc_id", F.col("doc_id") + F.lit(int(base)))


def merge_indexes(
    spark: SparkSession,
    sources: list[str | IndexPaths],
    out_dir: str,
) -> IndexPaths:
    """Merge ``sources`` (≥ 1 index paths) into a fresh index at
    ``out_dir``. ``n_buckets``/``n_salts``/``block_size``/analyzer are
    taken from the FIRST source's lineage (all sources must share the
    analyzer; layout parameters may differ — the merge re-buckets).
    Returns the merged index's paths.
    """
    if not sources:
        raise ValueError("merge_indexes needs at least one source index")
    readers = [IndexReader(spark, s) for s in sources]

    lin0 = readers[0].lineage
    ana0 = lin0.get("analyzer")
    impl0 = lin0.get("stemmer_impl")
    for rd in readers[1:]:
        lin = rd.lineage
        if lin.get("analyzer") != ana0 or lin.get("stemmer_impl") != impl0:
            raise ValueError(
                "cannot merge indexes with different analyzers: "
                f"{lin.get('analyzer')}/{lin.get('stemmer_impl')} vs "
                f"{ana0}/{impl0}"
            )

    fields0 = sorted(readers[0].stats.get("fields", {}))
    for rd in readers[1:]:
        f = sorted(rd.stats.get("fields", {}))
        if f != fields0:
            raise ValueError(
                f"cannot merge indexes with different fields: {f} vs {fields0}"
            )

    # docBase offsets: cumulative max_doc (every id ever issued stays
    # unique — N alone would collide after a source's purge)
    bases: list[int] = []
    acc = 0
    for rd in readers:
        bases.append(acc)
        acc += int(rd.stats.get("max_doc", rd.stats["N"]))
    merged_max_doc = acc

    docmaps = []
    forwards = []
    for rd, base in zip(readers, bases):
        tomb = rd.tombstones()
        if tomb is not None:
            tomb = tomb.select("doc_id").distinct()
        # rd.docmap() is already tombstone-masked by the reader
        docmaps.append(_rebase(rd.docmap(), base, None))
        # the reader's doc_terms() accessor drops the NULL-term doclen
        # marker rows that the merged build NEEDS (doclen derives from
        # them) — read raw and mask explicitly instead
        fwd = spark.read.parquet(rd.paths.doc_terms)
        forwards.append(_rebase(fwd, base, tomb))

    dm = docmaps[0]
    for d in docmaps[1:]:
        dm = dm.unionByName(d)
    fw = forwards[0]
    for f_ in forwards[1:]:
        fw = fw.unionByName(f_)

    row = dm.agg(
        F.count("*").alias("n"), F.countDistinct("ext_id").alias("u")
    ).first()
    n_docs = int(row["n"])
    if int(row["u"]) != n_docs:
        raise ValueError(
            f"duplicate ext_id across sources: {n_docs} docs, "
            f"{int(row['u'])} distinct ext_ids — merged lookups would be "
            "ambiguous"
        )

    paths = IndexPaths(out_dir)
    os.makedirs(paths.manifests, exist_ok=True)
    t0 = time.time()
    dm.write.mode("overwrite").parquet(paths.docmap)
    fw.write.mode("overwrite").parquet(paths.doc_terms)

    cfg = AnalyzerConfig.from_lineage(lin0)
    par = max(1, spark.sparkContext.defaultParallelism)
    old_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
    old_pom = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    try:
        _tune_encode_partitions(spark, _dir_bytes(paths.doc_terms), par)
        out = _build_index_body(
            spark,
            paths,
            postings_path=paths.doc_terms,
            n_docs=n_docs,
            base_done=False,
            base_manifest=os.path.join(paths.manifests, "base.json"),
            fields=tuple(fields0),
            cfg=cfg,
            n_buckets=int(lin0.get("n_buckets", 32)),
            n_salts=int(lin0.get("n_salts", 8)),
            block_size=int(lin0.get("block_size", 128)),
            resume=False,
            t0=t0,
            # threaded straight into collection_stats: stats.json is
            # born with the merged id-space high-water mark, so there
            # is NO window in which a crash leaves max_doc = n_docs
            # (which would let a later append reuse source ids)
            max_doc=merged_max_doc,
        )
    finally:
        # unset-when-previously-unset, exactly like build_index — a
        # half-restored partitionOverwriteMode=dynamic leaks into every
        # later parquet write on the session and suppresses _SUCCESS
        # markers other components key their crash recovery on
        _restore_conf(spark, "spark.sql.files.maxPartitionBytes", old_mpb)
        _restore_conf(
            spark, "spark.sql.sources.partitionOverwriteMode", old_pom
        )

    return out
