"""Cluster index-build job — the ``spark-submit --py-files`` entrypoint.

The north-rule deployment shape: package the library as a zip, ship it to
executors with ``--py-files``, and run this main on a multi-executor
cluster:

    cd /root/repo && python -c "import scripts.submit_build"  # sanity
    (cd /root/repo && zip -qr /tmp/sefs.zip search_engine_framework_spark)
    spark-submit \
        --master spark://<host>:7077      # or yarn / k8s; local[N] in CI \
        --py-files /tmp/sefs.zip \
        scripts/submit_build.py \
        --input  <iceberg table name or parquet path> \
        --output /path/to/index \
        --fields body,role --buckets 256 --salts 16

No ``.master()`` is set here — the cluster manager comes from spark-submit,
so the identical artifact runs at N and 4N executors (the two-cluster-size
scaling requirement; scripts/scaling_bench.py is the sandbox stand-in).

The job is resumable: re-submitting with the same --output skips buckets
whose checkpoint manifests are complete (index/build.py).

Prints ONE JSON line of build metrics (turns/sec, postings, bytes
compressed) aggregated from the per-bucket manifests.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import time

# When run via spark-submit, the script's directory is not on sys.path but
# the --py-files zip is; this fallback covers bare `python scripts/...` runs.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

# Iceberg-table / parquet-path loader with input-contract validation
# (schema drift fails the submit, not the index).
from search_engine_framework_spark.sources.table import (  # noqa: E402
    read_transcripts,
)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True,
                    help="Iceberg table name or parquet path of transcripts")
    ap.add_argument("--output", required=True, help="index output directory")
    ap.add_argument("--fields", default="body", help="comma-separated fields")
    ap.add_argument("--buckets", type=int, default=256,
                    help="segment hash-buckets (≈ 2-4× executor count)")
    ap.add_argument("--salts", type=int, default=16,
                    help="merge groups per term (head-term skew split)")
    ap.add_argument("--block-size", type=int, default=128)
    ap.add_argument("--no-resume", action="store_true",
                    help="ignore existing checkpoint manifests")
    ap.add_argument("--warmup", type=int, default=0, metavar="N_DOCS",
                    help="before the timed build, run the tokenize+encode "
                         "path over the first N_DOCS rows (untimed). "
                         "Steady-state cluster executors are long-lived, so "
                         "JVM codegen + python-worker fork + Arrow init are "
                         "not part of the throughput being scaled "
                         "(scripts/scaling_bench.py methodology)")
    args = ap.parse_args(argv)

    from search_engine_framework_spark.index.build import build_index

    spark = (
        SparkSession.builder.appName("sefs-index-build")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    # keep_extra: non-contract metadata columns land in the docmap for
    # delete predicates / LeToR side features (never tokenized).
    transcripts = read_transcripts(spark, args.input, keep_extra=True)

    if args.warmup > 0:
        from search_engine_framework_spark.index.build import extract_postings
        from search_engine_framework_spark.index.docids import assign_doc_ids

        # Warmup scratch lives NEXT TO the build output (valid on any
        # shared filesystem a real cluster writes to, and unique per
        # submission — concurrent submissions with distinct --output
        # can't clobber each other) and is removed before the timed run.
        warm_path = args.output.rstrip("/") + ".warmup"
        warm = assign_doc_ids(transcripts.limit(args.warmup))
        extract_postings(warm, fields=tuple(args.fields.split(","))).write.mode(
            "overwrite"
        ).parquet(warm_path)
        warm._sefs_unpersist()
        shutil.rmtree(warm_path, ignore_errors=True)

    t0 = time.time()
    paths = build_index(
        spark,
        transcripts,
        args.output,
        fields=tuple(args.fields.split(",")),
        n_buckets=args.buckets,
        n_salts=args.salts,
        block_size=args.block_size,
        resume=not args.no_resume,
    )
    elapsed = time.time() - t0

    n_postings = n_bytes = 0
    for mf in glob.glob(os.path.join(paths.manifests, "bucket-*.json")):
        with open(mf) as fh:
            m = json.load(fh)
        n_postings += m.get("n_postings", 0)
        n_bytes += m.get("bytes_compressed", 0)
    with open(paths.stats) as fh:
        n_docs = json.load(fh)["N"]

    print(json.dumps({
        "metric": "index_build",
        "turns": n_docs,
        "seconds": round(elapsed, 2),
        "turns_per_sec": round(n_docs / max(elapsed, 1e-9), 1),
        "postings": n_postings,
        "bytes_compressed": n_bytes,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "output": args.output,
    }))


if __name__ == "__main__":
    main()
