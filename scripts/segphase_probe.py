"""Decompose the segments phase's scaling: encode-only vs +merge-shuffle
vs +parquet-write, at two core counts on the SAME doc_terms input.

Usage: python scripts/segphase_probe.py <cores> <doc_terms_dir>

Writes one JSON line per stage so the orchestrating shell can diff
1-core vs 4-core walls per sub-stage. The noop sink forces full
computation with zero output cost, isolating the write."""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from search_engine_framework_spark.index.build import (  # noqa: E402
    _dir_bytes,
    _tune_encode_partitions,
    build_segments,
    encode_subsegments,
    write_segments,
)
from search_engine_framework_spark.session import get_spark  # noqa: E402


def main() -> None:
    cores = int(sys.argv[1])
    doc_terms = sys.argv[2]
    spark = get_spark(
        app_name=f"segprobe-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=max(cores, 8) * 4,
    )
    spark.sparkContext.setLogLevel("ERROR")
    par = max(1, spark.sparkContext.defaultParallelism)
    _tune_encode_partitions(spark, _dir_bytes(doc_terms), par)
    postings = spark.read.parquet(doc_terms)

    out: dict[str, float] = {"cores": cores}

    t0 = time.time()
    encode_subsegments(postings).write.format("noop").mode("overwrite").save()
    out["encode_only"] = round(time.time() - t0, 2)

    t0 = time.time()
    build_segments(postings).write.format("noop").mode(
        "overwrite"
    ).save()
    out["encode_merge"] = round(time.time() - t0, 2)

    dst = f"/tmp/segprobe_out_{cores}"
    shutil.rmtree(dst, ignore_errors=True)
    t0 = time.time()
    write_segments(build_segments(postings), dst)
    out["full_write"] = round(time.time() - t0, 2)
    print("SEGPROBE " + json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
