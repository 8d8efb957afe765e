"""Distributed inverted-index build.

Pipeline (all DataFrame ops; the only Python crossings are the tokenizer
and the two Arrow segment stages):

  transcripts ──assign_doc_ids──▶ docs(doc_id, ext_id, field texts)
      │ tokenize (mapInArrow; per-doc, map-side term grouping — no token
      ▼  shuffle; positions pre-encoded as varint blobs)
  doc_terms(term, field, doc_id, tf, pos_blob, doclen)   [forward index]
      │ encode_subsegments: mapInArrow per-partition encode — zero
      ▼ posting shuffle; each partition emits per-term block runs.
  sub-segments(term, field, df, ctf, blocks)
      │ merge_subsegments: salt = hash(first_doc) % n_salts, ONE shuffle
      │ on (bucket, salt), Arrow block-run concat per (term, field, salt)
      ▼ — the distributed segment-merge stage; only block rows shuffle.
  segments — Parquet partitioned by bucket = pmod(xxhash64(term,field), B),
             sorted by (term, field) within files → row-group pruning on
             term equality predicates.

This is the ONLY segment writer: appends encode a generation's forward
index through the same two stages, and compaction re-runs the merge stage
over the existing segment rows (streaming/incremental.py).

Side tables: docmap (doc_id ↔ ext_id/conv/turn), doclen(doc_id, field, len),
stats (N, per-field token totals). Per-bucket JSON manifests record lineage
+ metrics (postings/sec, bytes) and make the build resumable: completed
buckets are skipped on re-run (north_rule checkpoint requirement).

Reference parity notes: postings are docid-ascending per term
(InvList.java:120-135); doclen excludes stopword slots, positions include
them (Lucene norm / term-vector semantics, DocLenStoreSimilarity.java:29-36).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass
from collections.abc import Iterator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.analyzer import AnalyzerConfig
from .docids import assign_doc_ids

SEGMENT_SCHEMA = (
    "bucket int, term string, field string, salt int, df long, ctf long, "
    "max_tf int, blocks array<struct<first_doc:long,last_doc:long,n:int,"
    "max_tf:int,docs:binary,tfs:binary,doclens:binary,poss:binary>>"
)

def _pa_segment_schema():
    import pyarrow as pa

    block = pa.struct(
        [
            ("first_doc", pa.int64()),
            ("last_doc", pa.int64()),
            ("n", pa.int32()),
            ("max_tf", pa.int32()),
            ("docs", pa.binary()),
            ("tfs", pa.binary()),
            ("doclens", pa.binary()),
            ("poss", pa.binary()),
        ]
    )
    return pa.schema(
        [
            ("bucket", pa.int32()),
            ("term", pa.string()),
            ("field", pa.string()),
            ("salt", pa.int32()),
            ("df", pa.int64()),
            ("ctf", pa.int64()),
            ("max_tf", pa.int32()),
            ("blocks", pa.list_(block)),
        ]
    )


_PA_SEGMENT = _pa_segment_schema()

DEFAULT_FIELDS = ("body",)
ALL_FIELDS = ("body", "role", "tool")

_FIELD_SOURCE = {"body": "text", "role": "role", "tool": "tool"}


@dataclass
class IndexPaths:
    root: str

    @property
    def segments(self) -> str:
        return os.path.join(self.root, "segments")

    @property
    def docmap(self) -> str:
        return os.path.join(self.root, "docmap")

    @property
    def doc_terms(self) -> str:
        return os.path.join(self.root, "doc_terms")

    @property
    def doclen(self) -> str:
        return os.path.join(self.root, "doclen")

    @property
    def stats(self) -> str:
        return os.path.join(self.root, "stats.json")

    @property
    def manifests(self) -> str:
        return os.path.join(self.root, "_manifests")

    @property
    def tombstones(self) -> str:
        """Deleted doc_ids awaiting physical removal (index/deletes.py).
        Absent dir = no pending deletes."""
        return os.path.join(self.root, "tombstones")


def extract_postings(
    docs: DataFrame,
    fields: tuple[str, ...] = DEFAULT_FIELDS,
    cfg: AnalyzerConfig | None = None,
) -> DataFrame:
    """docs(doc_id, text/role/tool, …meta) →
    (term, field, doc_id, tf, pos_blob, doclen, …meta).

    The tokenizer UDF emits per-doc grouped entries with varint-encoded
    position blobs, so the per-(doc,term) grouping AND position compression
    happen inside the Arrow batch — the only shuffle downstream is the
    segment groupBy, and it moves binary blobs, not position arrays.

    One row per (doc, field) has ``term IS NULL``: the doclen marker.
    Posting consumers filter it out; the doclen table is exactly those
    rows — a map-only projection.

    Round 4: the FIRST field's marker rows also carry every non-text
    input column (conv_id, turn_idx, role, tool, ts, ext_id, …) — the
    docmap payload. The docmap table then derives from a column-pruned
    scan of these markers instead of a SECOND full-corpus scan + offset
    join (at the 10^12-turn target, scanning the corpus once instead of
    twice is the difference that matters; measured at 15.4M turns the
    docmap phase fell ~60%). Costs: payload columns are all-NULL on
    posting rows (parquet RLE ≈ free) and real on ~1 row per doc; the
    tokenizer hot loop is untouched — markers are emitted as separate
    Arrow batches whose payload arrays are the INPUT batch's own arrays
    (zero-copy), and posting batches carry pa.nulls placeholders (O(1))."""
    cfg = cfg or AnalyzerConfig.reference()
    srcs = [(f, _FIELD_SOURCE[f]) for f in fields]
    text_cols = sorted({s for _f, s in srcs})
    # docmap payload = every column except the heavy text body and
    # doc_id (mirrors the pre-round-4 slim docmap exactly): role/tool
    # stay in the payload even when they are ALSO indexed as fields
    meta_cols = [c for c in docs.columns if c not in ("doc_id", "text")]
    input_df = docs.select(
        "doc_id", *dict.fromkeys([*text_cols, *meta_cols])
    )
    meta_ddl = "".join(
        f", {f.name} {f.dataType.simpleString()}"
        for f in docs.schema
        if f.name in meta_cols
    )
    base_names = ["term", "field", "doc_id", "tf", "pos_blob", "doclen"]

    def tok(batches) -> Iterator:
        # mapInArrow: one flat (term, field, doc_id, tf, pos_blob, doclen)
        # batch straight out of the tokenizer — no per-entry dicts, no
        # array<struct> column, no JVM explode. The only per-posting
        # Python costs left are the tokenizer itself and list appends.
        import pyarrow as pa

        from ..functions.analyzer import doc_term_blob_rows

        for batch in batches:
            names = batch.schema.names
            doc_id_arr = batch.column(names.index("doc_id"))
            doc_ids = doc_id_arr.to_pylist()
            n = len(doc_ids)
            meta_arrs = [batch.column(names.index(c)) for c in meta_cols]
            o_term: list = []
            o_field: list = []
            o_doc: list = []
            o_tf: list = []
            o_blob: list = []
            o_dlen: list = []
            marker_batches = []
            for fi, (field, src) in enumerate(srcs):
                texts = batch.column(names.index(src)).to_pylist()
                dlens: list = []
                for doc_id, text in zip(doc_ids, texts):
                    rows, dlen = doc_term_blob_rows(text or "", cfg)
                    dlens.append(dlen)
                    for t, tf, blob in rows:
                        o_term.append(t)
                        o_field.append(field)
                        o_doc.append(doc_id)
                        o_tf.append(tf)
                        o_blob.append(blob)
                        o_dlen.append(dlen)
                # doclen marker batch for this field: one row per doc;
                # the first field's markers carry the docmap payload
                # (the input batch's own arrays — zero copy), later
                # fields' markers carry nulls
                marker_batches.append(
                    pa.RecordBatch.from_arrays(
                        [
                            pa.nulls(n, pa.string()),
                            pa.array([field] * n, pa.string()),
                            doc_id_arr.cast(pa.int64()),
                            pa.array([0] * n, pa.int32()),
                            pa.array([b""] * n, pa.binary()),
                            pa.array(dlens, pa.int32()),
                        ]
                        + (
                            list(meta_arrs)
                            if fi == 0
                            else [pa.nulls(n, a.type) for a in meta_arrs]
                        ),
                        names=base_names + meta_cols,
                    )
                )
            npost = len(o_term)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(o_term, pa.string()),
                    pa.array(o_field, pa.string()),
                    pa.array(o_doc, pa.int64()),
                    pa.array(o_tf, pa.int32()),
                    pa.array(o_blob, pa.binary()),
                    pa.array(o_dlen, pa.int32()),
                ]
                + [pa.nulls(npost, a.type) for a in meta_arrs],
                names=base_names + meta_cols,
            )
            yield from marker_batches

    return input_df.mapInArrow(
        tok,
        schema=(
            "term string, field string, doc_id long, tf int, "
            "pos_blob binary, doclen int" + meta_ddl
        ),
    )


def encode_subsegments(
    postings: DataFrame,
    block_size: int = 128,
) -> DataFrame:
    """Partition-local index build, the first stage of the segment writer
    (the Lucene/Anserini-style architecture; ``merge_subsegments`` is the
    second).

    Each input partition accumulates its rows per (term, field) — one
    pandas groupby per Arrow batch — then sorts each term's postings by
    doc_id (a vectorized argsort) and encodes them into block runs with NO
    posting-level shuffle at all. The merge stage then shuffles only
    ~(terms × partitions) rows of already-encoded blocks — orders of
    magnitude less data than the posting shuffle, and precisely the
    "distributed segment-merge" stage of the north rule (doc-range salts =
    input partitions; skew-immune because every partition does equal work
    regardless of term distribution).

    Correctness requires only that each (term, field, doc) posting row
    exists once globally (always true of the forward index). Blocks within
    one sub-segment are docid-ascending and disjoint; ACROSS partitions
    doc ranges may interleave when the scan packed unrelated small files
    into one partition — the merged row's blocks are then sorted by
    first_doc but not globally range-disjoint. Query evaluation is
    order-independent (joins/groupBys over decoded rows), so this only
    affects cosmetic segment ordering, not results.

    Trade-off: mid/tail terms produce one short block per partition (~20
    bytes overhead per partition a term appears in); size input files
    (``spark.sql.files.maxPartitionBytes``) so a partition's raw postings
    fit executor-python memory.
    """

    def encode_partition(batches) -> Iterator:
        # mapInArrow, not mapInPandas: a pandas crossing materializes one
        # Python str/bytes OBJECT per posting row (~70M per 4M-turn build),
        # and that allocation storm — not the encoding math — dominated
        # the whole segment phase (measured: 40s of a 44s encode stage was
        # a pure pass-through). Arrow keeps terms dictionary-encoded
        # (C-level) and position blobs in one contiguous buffer; Python
        # objects exist only per distinct TERM (~thousands), not per row.
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        from ..functions.codec import encode_blocks_from_blob_stream

        chunks = list(batches)
        if not chunks:
            return
        tab = pa.Table.from_batches(chunks)
        if tab.num_rows == 0:
            return
        term_dict = pc.dictionary_encode(tab["term"].combine_chunks())
        field_dict = pc.dictionary_encode(tab["field"].combine_chunks())
        tcodes = term_dict.indices.to_numpy()
        fcodes = field_dict.indices.to_numpy()
        tuniq = term_dict.dictionary.to_pylist()
        funiq = field_dict.dictionary.to_pylist()
        docs = tab["doc_id"].to_numpy()
        tfs = tab["tf"].to_numpy()
        dls = tab["doclen"].to_numpy()
        order = np.lexsort((docs, tcodes, fcodes))
        tcodes = tcodes[order]
        fcodes = fcodes[order]
        docs = docs[order]
        tfs = tfs[order]
        dls = dls[order]
        # reorder the blobs in C (take), then slice its ONE data buffer
        blobs = pc.take(tab["pos_blob"].combine_chunks(), pa.array(order))
        assert blobs.offset == 0
        blob_offsets = np.frombuffer(blobs.buffers()[1], dtype=np.int32)
        blob_data = np.frombuffer(blobs.buffers()[2], dtype=np.uint8)

        key_change = np.empty(len(order), dtype=bool)
        key_change[0] = True
        key_change[1:] = (np.diff(tcodes) != 0) | (np.diff(fcodes) != 0)
        starts = np.flatnonzero(key_change)
        ends = np.append(starts[1:], len(order))
        rows = {
            "bucket": [], "term": [], "field": [], "salt": [],
            "df": [], "ctf": [], "max_tf": [], "blocks": [],
        }
        for s, e in zip(starts, ends):
            t_arr = tfs[s:e]
            blocks = encode_blocks_from_blob_stream(
                docs[s:e], t_arr, dls[s:e], blob_data, blob_offsets[s:e + 1],
                block_size=block_size,
            )
            rows["bucket"].append(0)
            rows["term"].append(tuniq[tcodes[s]])
            rows["field"].append(funiq[fcodes[s]])
            rows["salt"].append(0)
            rows["df"].append(int(e - s))
            rows["ctf"].append(int(t_arr.sum()))
            rows["max_tf"].append(int(t_arr.max()))
            rows["blocks"].append([b.__dict__ for b in blocks])
            # Bounded output batches: one giant batch per partition holds
            # every encoded block in memory twice.
            if len(rows["term"]) >= 512:
                yield pa.RecordBatch.from_pydict(rows, schema=_PA_SEGMENT)
                rows = {k: [] for k in rows}
        if rows["term"]:
            yield pa.RecordBatch.from_pydict(rows, schema=_PA_SEGMENT)

    return postings.where(F.col("term").isNotNull()).mapInArrow(
        encode_partition, schema=SEGMENT_SCHEMA
    )


def _merge_partition(batches) -> "Iterator":
    """Arrow-side segment merge: group a partition's sub-segment rows by
    (term, field, salt) and concatenate their block runs sorted by
    first_doc — one C-level ``take`` per partition, all buffers off-heap.
    The JVM formulation (collect_list → flatten → sort_array) materialized
    every merged row three times on-heap; its GC pauses were a serial
    component that scaled with data and capped N→4N efficiency."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    chunks = list(batches)
    if not chunks:
        return
    tab = pa.Table.from_batches(chunks)
    if tab.num_rows == 0:
        return
    term_d = pc.dictionary_encode(tab["term"].combine_chunks())
    field_d = pc.dictionary_encode(tab["field"].combine_chunks())
    tcodes = term_d.indices.to_numpy()
    fcodes = field_d.indices.to_numpy()
    salts = tab["salt"].to_numpy()
    buckets = tab["bucket"].to_numpy()
    dfs = tab["df"].to_numpy()
    ctfs = tab["ctf"].to_numpy()
    mtfs = tab["max_tf"].to_numpy()
    blocks = tab["blocks"].combine_chunks()
    assert blocks.offset == 0
    row_off = blocks.offsets.to_numpy().astype(np.int64)
    values = blocks.values
    fd = values.field("first_doc").to_numpy()

    order = np.lexsort((salts, tcodes, fcodes))
    tc = tcodes[order]
    fc = fcodes[order]
    sl = salts[order]
    change = np.empty(len(order), dtype=bool)
    change[0] = True
    change[1:] = (np.diff(tc) != 0) | (np.diff(fc) != 0) | (np.diff(sl) != 0)
    gstarts = np.flatnonzero(change)
    gends = np.append(gstarts[1:], len(order))

    idx_parts: list[np.ndarray] = []
    counts = np.empty(len(gstarts), dtype=np.int64)
    for gi, (s, e) in enumerate(zip(gstarts, gends)):
        rows = order[s:e]
        bidx = np.concatenate(
            [np.arange(row_off[r], row_off[r + 1]) for r in rows]
        )
        # stable sort keeps equal-first_doc runs in input order
        idx_parts.append(bidx[np.argsort(fd[bidx], kind="stable")])
        counts[gi] = len(idx_parts[-1])
    big = np.concatenate(idx_parts) if idx_parts else np.empty(0, np.int64)
    out_values = values.take(pa.array(big))
    out_off = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=out_off[1:])
    merged_blocks = pa.ListArray.from_arrays(
        pa.array(out_off, pa.int32()), out_values
    )

    df_g = np.add.reduceat(dfs[order].astype(np.int64), gstarts)
    ctf_g = np.add.reduceat(ctfs[order].astype(np.int64), gstarts)
    mtf_g = np.maximum.reduceat(mtfs[order], gstarts)
    yield pa.RecordBatch.from_arrays(
        [
            pa.array(buckets[order][gstarts], pa.int32()),
            term_d.dictionary.take(pa.array(tc[gstarts])),
            field_d.dictionary.take(pa.array(fc[gstarts])),
            pa.array(sl[gstarts], pa.int32()),
            pa.array(df_g, pa.int64()),
            pa.array(ctf_g, pa.int64()),
            pa.array(mtf_g, pa.int32()),
            merged_blocks,
        ],
        schema=_PA_SEGMENT,
    )


def merge_subsegments(
    subsegs: DataFrame, n_buckets: int = 32, n_salts: int = 8
) -> DataFrame:
    """The distributed segment-merge stage, with HEAD-TERM SKEW bounded by
    ``n_salts``. Input: any segment-shaped rows — fresh sub-segments from
    ``encode_subsegments`` (build, append) or the live segment table
    (compaction).

    A naive merge to one row per (term, field) funnels a head term's
    entire posting list — ~12% of ALL postings for a Zipf rank-1 term —
    through ONE reduce task and ONE output row: a fixed-wall-clock
    straggler that caps N→4N scaling (and an unboundedly large row at
    10^12 turns). Instead, each input row is assigned a content-derived
    salt (hash of its first block's first_doc) and rows merge by (term,
    field, salt): a head term becomes ≤ ``n_salts`` balanced rows; queries
    already handle multiple segment rows per (term, field) (incremental
    generations produce the same shape). Raise ``n_salts`` with corpus
    size so row payloads stay bounded.

    Physical shape: ONE shuffle, hash-partitioned by (bucket, salt) —
    which co-locates every (term, field, salt) group — then an Arrow-side
    per-partition merge (``_merge_partition``); ``write_segments`` writes
    the result WITHOUT re-shuffling (partitionBy routes rows to bucket
    directories from whichever task holds them)."""
    par = max(1, subsegs.sparkSession.sparkContext.defaultParallelism)
    tagged = subsegs.select(
        F.pmod(F.xxhash64(F.col("term"), F.col("field")), F.lit(n_buckets))
        .cast("int")
        .alias("bucket"),
        "term",
        "field",
        F.pmod(
            F.xxhash64(F.element_at("blocks", 1)["first_doc"]),
            F.lit(n_salts),
        )
        .cast("int")
        .alias("salt"),
        "df",
        "ctf",
        "max_tf",
        "blocks",
    )
    return tagged.repartition(
        max(n_buckets, 4 * par), "bucket", "salt"
    ).mapInArrow(_merge_partition, schema=SEGMENT_SCHEMA)


def build_segments(
    postings: DataFrame,
    n_buckets: int = 32,
    block_size: int = 128,
    n_salts: int = 8,
) -> DataFrame:
    """Forward-index rows → merged segment rows: partition-local encode
    (``encode_subsegments``) + the merge stage (``merge_subsegments``)."""
    return merge_subsegments(
        encode_subsegments(postings, block_size=block_size),
        n_buckets=n_buckets, n_salts=n_salts,
    )


def write_segments(segments: DataFrame, path: str) -> None:
    """Bucket-partitioned parquet, (term, field)-sorted within files."""
    (
        segments.sortWithinPartitions("term", "field")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )


def collection_stats(
    doclen: DataFrame, n_docs: int, max_doc: int | None = None
) -> dict:
    """N, per-field total tokens + doc counts (QryopSlScore.java:95,132,140-141).

    ``max_doc`` (default = n_docs) is the id-space high-water mark — after
    a physical delete purge (index/deletes.py) live docs keep their ids,
    so N (live count, drives idf) and max_doc (next append's id start,
    streaming/incremental.py) diverge; conflating them would let an
    append reuse a surviving document's id."""
    rows = (
        doclen.groupBy("field")
        .agg(
            F.sum("doclen").alias("sum_doclen"),
            F.count(F.when(F.col("doclen") > 0, 1)).alias("doc_count"),
        )
        .collect()
    )
    return {
        "N": n_docs,
        "max_doc": int(max_doc if max_doc is not None else n_docs),
        "fields": {
            r["field"]: {
                "sum_doclen": int(r["sum_doclen"] or 0),
                "doc_count": int(r["doc_count"]),
            }
            for r in rows
        },
    }


def _lineage_stemmer_impl(cfg: AnalyzerConfig | None) -> str | None:
    """Implementation fingerprint of the build's stemmer kind, for the
    open-time parity check (functions/stemmer.py STEMMER_IMPL)."""
    from ..functions.stemmer import stemmer_impl

    kind = (cfg or AnalyzerConfig.reference()).stemmer
    try:
        return stemmer_impl(kind)
    except ValueError:
        return None


def _completed_buckets(paths: IndexPaths) -> set[int]:
    done = set()
    if os.path.isdir(paths.manifests):
        for f in os.listdir(paths.manifests):
            if f.startswith("bucket-") and f.endswith(".json"):
                with open(os.path.join(paths.manifests, f)) as fh:
                    m = json.load(fh)
                if m.get("complete"):
                    done.add(m["bucket"])
    return done


def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    fields: tuple[str, ...] = DEFAULT_FIELDS,
    cfg: AnalyzerConfig | None = None,
    n_buckets: int = 32,
    n_salts: int = 8,
    block_size: int = 128,
    resume: bool = True,
) -> IndexPaths:
    """Full index build with per-bucket checkpoint manifests.

    Re-running after a partial failure skips buckets whose manifest is
    complete and rebuilds only the missing ones; segment content per bucket
    is deterministic (data-derived docids + lexicographic term sort), which
    the resume test verifies via content hashes.

    Layout settings, all recorded in the bucket-manifest lineage and
    adopted from there by appends, compaction, purge and merge:
    ``n_buckets`` (segment directories = the query-side bucket prune),
    ``n_salts`` (merge groups: a (term, field) spans at most ``n_salts``
    segment rows per generation — the head-term split, see
    ``merge_subsegments``) and ``block_size`` (postings per block).
    """
    paths = IndexPaths(out_dir)
    os.makedirs(paths.manifests, exist_ok=True)
    t0 = time.time()

    base_manifest = os.path.join(paths.manifests, "base.json")
    base_done = False
    if resume and os.path.exists(base_manifest):
        with open(base_manifest) as fh:
            base_done = json.load(fh).get("complete", False)

    par = max(1, spark.sparkContext.defaultParallelism)
    old_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
    old_pom = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    assigned = None
    try:
        phases: dict[str, float] = {}
        if base_done:
            # Resume fast path: docmap / doc_terms / doclen / stats are
            # complete and deterministic — skip re-tokenization entirely.
            with open(paths.stats) as fh:
                n_docs = json.load(fh)["N"]
        else:
            # The input-bytes tuning gives the tokenize corpus scan 4
            # even task waves per core (a handful of big input files
            # would otherwise leave the last wave mostly idle; measured
            # 25% of the tokenize phase on an 18-file corpus at 8 cores).
            _tune_scan_partitions(spark, _df_input_bytes(transcripts), par)
            assigned = assign_doc_ids(transcripts)

            # ONE corpus scan (round 4): tokenization — the only
            # expensive Python crossing — runs here, and the first
            # field's doclen marker rows carry the docmap payload
            # (extract_postings), so docmap/doclen/segments ALL derive
            # from this table. Previously the slim docmap was a second
            # full-corpus scan + conv-offset broadcast join; at the
            # 10^12-turn target that second scan reads ~100 TB of
            # parquet for columns the tokenizer pass already had in
            # hand. Map-only write (no shuffle): files mirror the
            # corpus scan partitioning.
            extract_postings(assigned, fields=fields, cfg=cfg).write.mode(
                "overwrite"
            ).parquet(paths.doc_terms)
            n_docs = getattr(assigned, "_sefs_n_docs", None)
            phases["tokenize"] = round(time.time() - t0, 2)

            # SLIM docmap (no text payload — no consumer reads text back
            # from the docmap): a column-pruned scan of the first
            # field's marker rows. Payload columns are everything the
            # transcript carried except the indexed text sources.
            markers = spark.read.parquet(paths.doc_terms).where(
                (F.col("term").isNull()) & (F.col("field") == fields[0])
            )
            base = {"term", "field", "tf", "pos_blob", "doclen"}
            docmap_cols = [c for c in markers.columns if c not in base]
            markers.select(*docmap_cols).write.mode("overwrite").parquet(
                paths.docmap
            )
            if n_docs is None:
                n_docs = spark.read.parquet(paths.docmap).count()
            phases["docmap"] = round(
                time.time() - t0 - sum(phases.values()), 2
            )

        # Re-size for the segment-encode scan: fixed 16 MiB splits —
        # data-driven, identical at every cluster size, and small enough
        # that each task's ~8× decompressed working set stays cache/
        # bandwidth-friendly when many workers run concurrently (see
        # _tune_encode_partitions for the round-4 measurements).
        _tune_encode_partitions(spark, _dir_bytes(paths.doc_terms), par)
        return _build_index_body(
            spark, paths, postings_path=paths.doc_terms,
            n_docs=n_docs, base_done=base_done, base_manifest=base_manifest,
            fields=fields, cfg=cfg, n_buckets=n_buckets, n_salts=n_salts,
            block_size=block_size, resume=resume, t0=t0, phases=phases,
        )
    finally:
        # Release the assignment's persisted conv stats even on failure —
        # a stale entry is a plan-cache correctness hazard for later
        # identical-looking assignments (see assign_doc_ids). Both
        # consumers of `assigned` (docmap + doc_terms writes) ran inside
        # the try.
        if assigned is not None:
            assigned._sefs_unpersist()
        # restore session-global confs even on failure (a leaked
        # maxPartitionBytes would silently reshape every later scan on a
        # shared session).
        _restore_conf(spark, "spark.sql.files.maxPartitionBytes", old_mpb)
        _restore_conf(spark, "spark.sql.sources.partitionOverwriteMode", old_pom)


def _restore_conf(spark: SparkSession, key: str, old) -> None:
    if old is not None:
        spark.conf.set(key, old)
    else:
        spark.conf.unset(key)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def _df_input_bytes(df: DataFrame) -> int:
    """Total bytes of a file-backed DataFrame's inputs (0 for generated /
    non-file plans — partition tuning is then a no-op)."""
    try:
        total = 0
        for f in df.inputFiles():
            p = f[len("file:"):] if f.startswith("file:") else f
            total += os.path.getsize(p)
        return total
    except Exception:
        return 0


def _tune_scan_partitions(
    spark: SparkSession, nbytes: int, par: int, waves: int = 4
) -> None:
    """Set ``spark.sql.files.maxPartitionBytes`` so the next file scan
    splits into ~``waves`` EVEN task waves per core. With a handful of
    large files the default 128 MiB target yields a partition count just
    above a multiple of the core count — the final wave runs nearly empty
    and the phase loses its tail to stragglers (which shows up directly as
    lost N→4N scaling efficiency, since the small cluster packs the same
    files into even waves). Clamped to [4 MiB, 128 MiB]; no-op for
    unknown (0) sizes.

    Small inputs (per-partition share < 4 MiB) fall back to plain 16 MiB
    partitions: chopping a 10 MiB corpus into waves×cores slivers buys
    nothing and pays a task-scheduling overhead per sliver — wave
    evenness only matters when there are FEW waves of REAL work."""
    if not nbytes:
        return
    per = nbytes // (waves * par)
    target = min(per, 128 << 20) if per >= (4 << 20) else (16 << 20)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(int(target)))


def _tune_encode_partitions(
    spark: SparkSession, nbytes: int, par: int, target: int = 16 << 20
) -> None:
    """Fixed 16 MiB encode-scan partitions — data-driven and IDENTICAL
    at every cluster size (``par`` is unused; kept for call-site
    symmetry with _tune_scan_partitions).

    Why small and fixed (round-4 measurement, 15.4M-turn corpus,
    1.1 GiB doc_terms): the encode task materializes ~8× its compressed
    input in python-worker memory (arrow table + dictionary codes +
    lexsort permutation + blob take), so a 50 MiB split churns ~400 MB
    of working set per task — 8 concurrent workers saturate the memory
    subsystem and the phase scaled 2→8 cores at only ~0.44. At 16 MiB
    splits the same phase ran the SAME wall at 2 cores (fragmentation
    overhead is negligible against the vectorized body) and 28% faster
    at 8 cores (0.62 eff, plateau beyond ~11 MiB). The previous
    core-count floor also gave DIFFERENT layouts per level (10 parts at
    2 cores vs 16+ at 8 for the same bytes) — a real N-vs-4N cluster
    comparison must run the same physical job, and now it does: task
    count scales with data, never with the cluster. At 10^12 turns a
    16 MiB grain means ~1 task per 170k turns — bounded worker memory
    and even waves on any executor count; raise ``target`` only with
    commensurately larger executor memory.

    The one remaining ``par`` use: when the DATA is small relative to
    the cluster (fewer 16 MiB splits than cores) the split shrinks to
    one per core so no core idles — sub-16 MiB tasks are trivial, so
    the extra fragmentation is noise there, and at any corpus big
    enough for a meaningful N-vs-4N comparison the floor never
    engages (bytes/16 MiB >> cores), keeping the layout identical
    across levels."""
    if not nbytes:
        return
    n = max((nbytes + target - 1) // target, par)
    per = max(nbytes // n + 1, 1 << 20)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(int(per)))


def _build_index_body(
    spark: SparkSession,
    paths: IndexPaths,
    postings_path: str,
    n_docs: int,
    base_done: bool,
    base_manifest: str,
    fields: tuple[str, ...],
    cfg: AnalyzerConfig | None,
    n_buckets: int,
    n_salts: int,
    block_size: int,
    resume: bool,
    t0: float,
    phases: dict[str, float] | None = None,
    max_doc: int | None = None,
) -> IndexPaths:
    phases = {} if phases is None else phases

    def _mark(name: str) -> None:
        phases[name] = round(time.time() - t0 - sum(phases.values()), 2)

    postings = spark.read.parquet(postings_path)

    if not base_done:
        # doclen = the tokenizer's NULL-term marker rows — one per
        # (doc, field) including zero-token docs: a map-only filter over
        # the forward index (no posting groupBy shuffle, no docmap join).
        doclen = postings.where(F.col("term").isNull()).select(
            "doc_id", "field", "doclen"
        )
        doclen.write.mode("overwrite").parquet(paths.doclen)
        doclen = spark.read.parquet(paths.doclen)

        stats = collection_stats(doclen, n_docs, max_doc=max_doc)
        with open(paths.stats, "w") as fh:
            json.dump(stats, fh, indent=2, sort_keys=True)
        _mark("doclen_stats")
        with open(base_manifest, "w") as fh:
            json.dump(
                {
                    "complete": True,
                    "n_docs": n_docs,
                    "fields": list(fields),
                    "seconds": round(time.time() - t0, 3),
                    "phases": phases,
                },
                fh,
                indent=2,
                sort_keys=True,
            )

    done = _completed_buckets(paths) if resume else set()
    segments = build_segments(
        postings, n_buckets=n_buckets, block_size=block_size, n_salts=n_salts
    )
    if done:
        segments = segments.where(~F.col("bucket").isin(sorted(done)))

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    # The merge shuffle already hash-partitioned the rows by (bucket,
    # salt), so the head-term bucket (~12% of all bytes under Zipf) is
    # written by several balanced tasks and the index bytes shuffle
    # exactly ONCE end-to-end.
    write_segments(segments, paths.segments)

    _mark("segments")
    elapsed = time.time() - t0
    # Per-bucket metrics WITHOUT re-reading posting blocks: the scan below
    # projects only (bucket, term, field, df, ctf) — column pruning skips
    # the blocks column entirely — and bytes_compressed comes from the
    # bucket directory's on-disk parquet sizes (the truthful "bytes
    # compressed" number anyway). The previous formulation decoded every
    # block's byte lengths, re-reading the whole index per build.
    seg = spark.read.parquet(paths.segments)
    bucket_bytes: dict[int, int] = {}
    for entry in os.listdir(paths.segments):
        if entry.startswith("bucket="):
            b = int(entry.split("=", 1)[1])
            d = os.path.join(paths.segments, entry)
            bucket_bytes[b] = sum(
                os.path.getsize(os.path.join(d, f))
                for f in os.listdir(d)
                if f.endswith(".parquet")
            )
    per_bucket = (
        seg.groupBy("bucket")
        .agg(
            F.count("*").alias("n_terms"),
            F.sum("df").alias("n_postings"),
            F.xxhash64(
                F.sort_array(
                    F.collect_list(F.concat_ws("\x01", "term", "field", "df", "ctf"))
                ).cast("string")
            ).alias("content_hash"),
        )
        .collect()
    )
    for r in per_bucket:
        manifest = {
            "bucket": int(r["bucket"]),
            "complete": True,
            "n_terms": int(r["n_terms"]),
            "n_postings": int(r["n_postings"]),
            "bytes_compressed": bucket_bytes.get(int(r["bucket"]), 0),
            "content_hash": int(r["content_hash"]),
            "n_docs": n_docs,
            "fields": list(fields),
            "build_seconds": round(elapsed, 3),
            "postings_per_sec": round(int(r["n_postings"]) / max(elapsed, 1e-9), 1),
            "lineage": {
                "n_buckets": n_buckets,
                "n_salts": n_salts,
                "block_size": block_size,
                "analyzer": (cfg or AnalyzerConfig.reference()).__dict__
                if cfg is None or hasattr(cfg, "__dict__")
                else str(cfg),
                "stemmer_impl": _lineage_stemmer_impl(cfg),
            },
        }
        with open(
            os.path.join(paths.manifests, f"bucket-{r['bucket']:05d}.json"), "w"
        ) as fh:
            json.dump(manifest, fh, indent=2, sort_keys=True, default=str)
    _mark("manifests")
    if os.environ.get("SEFS_BUILD_VERBOSE"):
        print(f"build_index phases: {json.dumps(phases)}", flush=True)
    return paths
