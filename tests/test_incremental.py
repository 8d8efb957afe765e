"""Incremental appends + compaction + Structured-Streaming index build.

Equivalence target: an index built as base + N appended generations must
answer every query identically to a one-shot batch build over the full
corpus, provided conversations arrive in conv_id order (then the
arrival-order docids coincide with the global dense rank)."""

import os

import pyspark.sql.functions as F
import pytest

from search_engine_framework_spark.engine import SearchEngine
from search_engine_framework_spark.functions.analyzer import AnalyzerConfig
from search_engine_framework_spark.index.build import build_index
from search_engine_framework_spark.plans.models import BM25, Indri, RankedBoolean
from search_engine_framework_spark.sources.transcripts import synth_transcripts
from search_engine_framework_spark.streaming import (
    append_index,
    compact_index,
    stream_index,
)

CFG = AnalyzerConfig.reference()

QUERIES = [
    ("search engine index", BM25()),
    ("#AND(search engine)", RankedBoolean()),
    ("#WAND(0.6 search 0.4 engine)", Indri(mu=2500.0, lam=0.4)),
    ("#NEAR/3(search engine)", BM25()),
]


def _results(spark, index_dir):
    eng = SearchEngine(spark, index_dir, CFG)
    out = {}
    for q, m in QUERIES:
        out[q] = [
            (r["doc_id"], r["ext_id"], r["rank"], round(r["score"], 9))
            for r in eng.search(q, m, k=50).collect()
        ]
    return out


@pytest.fixture(scope="module")
def corpora(spark):
    full = synth_transcripts(spark, n_convs=30, seed=11).cache()
    part1 = full.where(F.col("conv_id") < "conv-00000020")
    part2 = full.where(
        (F.col("conv_id") >= "conv-00000020") & (F.col("conv_id") < "conv-00000025")
    )
    part3 = full.where(F.col("conv_id") >= "conv-00000025")
    return full, part1, part2, part3


@pytest.fixture(scope="module")
def batch_results(spark, corpora, tmp_path_factory):
    """Query results of a one-shot batch build over the full corpus."""
    batch_dir = str(tmp_path_factory.mktemp("batch"))
    build_index(spark, corpora[0], batch_dir, fields=("body",), n_buckets=8, n_salts=4)
    return _results(spark, batch_dir)


def test_append_matches_batch_rebuild(spark, corpora, batch_results, tmp_path):
    full, p1, p2, p3 = corpora
    incr_dir = str(tmp_path / "incr")

    build_index(spark, p1, incr_dir, fields=("body",), n_buckets=8, n_salts=4)
    n2 = append_index(spark, p2, incr_dir, fields=("body",), n_buckets=8)
    n3 = append_index(spark, p3, incr_dir, fields=("body",), n_buckets=8)
    assert n2 == p2.count() and n3 == p3.count()

    assert _results(spark, incr_dir) == batch_results

    # replaying an already-applied batch is a no-op (document-level idempotence)
    assert append_index(spark, p2, incr_dir, fields=("body",), n_buckets=8) == 0
    assert _results(spark, incr_dir) == batch_results

    # generation manifests record lineage
    gens = [f for f in os.listdir(os.path.join(incr_dir, "_manifests")) if f.startswith("gen-")]
    assert len(gens) == 2

    # compaction: rows per (term, field) re-bounded by the recorded
    # n_salts=4 (head-term rows are deliberately SPLIT, not fused to one
    # unbounded row — see index.build.merge_subsegments), same answers
    pre_rows = spark.read.parquet(os.path.join(incr_dir, "segments")).count()
    compact_index(spark, incr_dir)
    seg = spark.read.parquet(os.path.join(incr_dir, "segments"))
    assert seg.count() <= pre_rows
    over = seg.groupBy("term", "field").count().where("count > 4").count()
    assert over == 0
    assert _results(spark, incr_dir) == batch_results


def test_append_writes_with_recorded_block_size_and_salts(
    spark, corpora, batch_results, tmp_path
):
    """An appended generation goes through the build's segment writer with
    the base build's recorded layout: blocks of at most ``block_size``
    postings, at most ``n_salts`` segment rows per (term, field)."""
    full, p1, p2, p3 = corpora
    out = str(tmp_path / "ix")
    build_index(spark, p1, out, fields=("body",), n_buckets=8, n_salts=2,
                block_size=8)
    assert append_index(spark, p2.unionByName(p3), out) > 0

    seg = spark.read.parquet(os.path.join(out, "segments")).withColumn(
        "gen", F.input_file_name().contains("/gen-00001-").cast("int")
    )
    new = seg.where("gen = 1")
    head = new.groupBy("term", "field").agg(F.sum("df").alias("df"))
    assert head.where("df > 8").count() > 0  # a term spanning several blocks
    blocks = new.select(F.explode("blocks").alias("b"))
    assert blocks.where("b.n > 8").count() == 0
    rows = seg.groupBy("gen", "term", "field").count()
    assert rows.where("count > 2").count() == 0
    assert _results(spark, out) == batch_results


def test_stream_index_availablenow(spark, corpora, batch_results, tmp_path):
    full, p1, p2, p3 = corpora
    src = str(tmp_path / "stream_src")
    out = str(tmp_path / "stream_ix")
    ckpt = str(tmp_path / "ckpt")

    # first wave of files → bootstrap build
    p1.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(full.schema).parquet(src)
    q = stream_index(spark, stream, out, ckpt, fields=("body",), n_buckets=8, n_salts=4)
    q.awaitTermination(120)

    # second wave → appended generations
    p2.write.mode("append").parquet(src)
    p3.write.mode("append").parquet(src)
    stream = spark.readStream.schema(full.schema).parquet(src)
    q = stream_index(spark, stream, out, ckpt, fields=("body",), n_buckets=8, n_salts=4)
    q.awaitTermination(120)

    assert _results(spark, out) == batch_results
