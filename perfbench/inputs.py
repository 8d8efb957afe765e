"""Seeded benchmark inputs, staged as Parquet before anything is timed.

Everything here is a pure function of the seed: the transcript corpus
(``sources.transcripts.synth_transcripts``), the append batches, the
delete victims and the query sets. Query terms are drawn by sampling
token positions of the staged corpus, so they follow the corpus's own
Zipf term distribution: head and tail terms both appear.

Inputs are staged once as Parquet and read back, because ``append_index``
evaluates its input several times (docid stats, docmap write, doc_terms
write); a generator DataFrame would be regenerated on each pass. Staging
runs before Spark starts, so no input work lands in a timed region or
warms the JVM the measured operations run in.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

from search_engine_framework_spark.functions.analyzer import (
    AnalyzerConfig,
    analyze_terms,
)
from search_engine_framework_spark.sources.transcripts import (
    TRANSCRIPT_SCHEMA,
    synth_transcripts,
)

# The indexed fields and the transcript column each one reads.
FIELDS = ("body", "role")
FIELD_COLUMNS = {"body": "text", "role": "role"}
CFG = AnalyzerConfig.reference()

# 600 turns: small enough that a fresh JVM, a full build and a measured
# loop fit one run's time budget (at this size Spark's fixed costs dominate
# every operation), large enough that every query has hits. Turn counts
# are fixed (the last conversation is cut short) so throughput per turn
# compares across seeds.
BASE_TURNS = 600
# Append batches for the ingest workload. Append cost is dominated by
# per-batch fixed work, so batches stay small and rounds few.
BATCH_TURNS = 24
N_BATCHES = 2
# conversations generated: enough for the base corpus plus every batch
GEN_CONVS = 120

K = 10


@dataclass(frozen=True)
class Query:
    """A BM25 query."""

    qid: str
    text: str


@dataclass
class Staged:
    corpus_dir: str
    batch_dirs: list[str]
    base_rows: list[dict]
    batch_rows: list[list[dict]]

    @property
    def text_bytes(self) -> int:
        """UTF-8 bytes of the indexed text of the base corpus."""
        return sum(
            len((r[col] or "").encode("utf-8"))
            for r in self.base_rows
            for col in FIELD_COLUMNS.values()
        )


def _read_rows(path: str) -> list[dict]:
    rows = pq.read_table(path).to_pylist()
    rows.sort(key=lambda r: (r["conv_id"], r["turn_idx"]))
    return rows


def _plan(rows: list[tuple[str, int]]) -> dict[str, list[tuple[str, int]]]:
    """Assign conversations, in conv_id order, to the base corpus and then
    to each batch: {part: [(conv_id, n_turns_kept)]}. Cutting a
    conversation keeps turns 0..n-1, so turn indexes stay dense."""
    turns: dict[str, int] = {}
    for conv_id, _t in rows:
        turns[conv_id] = turns.get(conv_id, 0) + 1
    budget = [("corpus", BASE_TURNS)] + [
        (f"batch-{b}", BATCH_TURNS) for b in range(N_BATCHES)
    ]
    plan: dict[str, list[tuple[str, int]]] = {p: [] for p, _ in budget}
    convs = iter(sorted(turns))
    for part, want in budget:
        while want > 0:
            conv_id = next(convs)
            keep = min(want, turns[conv_id])
            plan[part].append((conv_id, keep))
            want -= keep
    return plan


class _GeneratorCapture:
    """Stands in for the SparkSession ``synth_transcripts`` takes and keeps
    the id range and per-partition generator it builds, so the corpus is
    generated in this process by the package's own generator, before Spark
    starts and without a Spark job. Generation is keyed per conversation,
    so one partition yields the same rows as any partitioning."""

    def range(self, start, end, numPartitions=None):
        self.ids = np.arange(start, end, dtype=np.int64)
        return self

    def mapInPandas(self, fn, schema):
        self.fn = fn
        return self


def generate(seed: int):
    """The seed's transcript corpus as an Arrow table (Spark's schema:
    timestamps are timezone-aware micros)."""
    import pandas as pd
    import pyarrow as pa

    cap = _GeneratorCapture()
    synth_transcripts(cap, n_convs=GEN_CONVS, seed=seed)
    table = pa.Table.from_pandas(
        pd.concat(cap.fn(iter([pd.DataFrame({"id": cap.ids})]))),
        preserve_index=False,
    )
    return table.set_column(
        table.schema.get_field_index("ts"), "ts",
        table["ts"].cast(pa.timestamp("us", tz="UTC")))


def stage(seed: int, work: str) -> Staged:
    """Generate the corpus plus the append batches for ``seed`` and stage
    them as Parquet under ``work``. Batch conversations sort after every
    base conversation, so appended docids continue the base order."""
    import pyarrow as pa
    import pyarrow.compute as pc

    table = generate(seed)
    plan = _plan(list(zip(table["conv_id"].to_pylist(), table["turn_idx"].to_pylist())))
    dirs = {}
    for part, convs in plan.items():
        keep = dict(convs)
        mask = pc.less(
            table["turn_idx"],
            pa.array([keep.get(c, 0) for c in table["conv_id"].to_pylist()], pa.int32()),
        )
        dirs[part] = os.path.join(work, "input", part)
        os.makedirs(dirs[part], exist_ok=True)
        pq.write_table(table.filter(mask), os.path.join(dirs[part], "part-0.parquet"))
    batch_dirs = [dirs[f"batch-{b}"] for b in range(N_BATCHES)]
    return Staged(
        corpus_dir=dirs["corpus"],
        batch_dirs=batch_dirs,
        base_rows=_read_rows(dirs["corpus"]),
        batch_rows=[_read_rows(d) for d in batch_dirs],
    )


def check_schema(spark, staged: Staged) -> None:
    """The staged corpus reads back with the transcript schema."""
    from pyspark.sql.types import _parse_datatype_string

    want = _parse_datatype_string(TRANSCRIPT_SCHEMA)
    got = spark.read.parquet(staged.corpus_dir).schema
    if [(f.name, f.dataType) for f in got] != [(f.name, f.dataType) for f in want]:
        raise RuntimeError(f"staged corpus has schema {got}, want {want}")


class TermSampler:
    """Draws query terms by sampling token positions of the corpus text,
    so a term's chance is its collection frequency (the corpus Zipf)."""

    def __init__(self, rows: list[dict], rng: np.random.Generator):
        keep: dict[str, bool] = {}
        self.texts: list[list[str]] = []
        for r in rows:
            toks = []
            for w in (r["text"] or "").split():
                if w not in keep:
                    # a word the analyzer drops (a stopword) is no query term
                    keep[w] = bool(analyze_terms(w, CFG))
                if keep[w]:
                    toks.append(w)
            if toks:
                self.texts.append(toks)
        lens = np.array([len(t) for t in self.texts], dtype=np.float64)
        self._p = lens / lens.sum()
        self.rng = rng

    def terms(self, n: int) -> list[str]:
        """``n`` independent corpus-frequency draws."""
        out = []
        for _ in range(n):
            toks = self.texts[self.rng.choice(len(self.texts), p=self._p)]
            out.append(toks[int(self.rng.integers(len(toks)))])
        return out


def lookup_queries(sampler: TermSampler, n: int) -> list[Query]:
    """Flat BM25 #SUM queries of 1-4 terms: every one passes the driver
    fast-path gates (flat tree, BM25, no filter, small posting volume)."""
    out = []
    for i in range(n):
        n_terms = int(sampler.rng.integers(1, 5))
        out.append(Query(f"L{i}", " ".join(sampler.terms(n_terms))))
    return out


def structured_query(sampler: TermSampler) -> Query:
    """A tree the fast path declines: BM25 #SUM with #SYN."""
    s1, s2, c = sampler.terms(3)
    return Query("S", f"#SUM(#SYN({s1} {s2}) {c})")


def rare_terms(row: dict, n: int, df: dict[str, int]) -> list[str]:
    """The ``n`` rarest analyzable words of one turn's text (by corpus df),
    so a query on them ranks that turn at the top."""
    words = sorted(
        {w for w in (row["text"] or "").split() if analyze_terms(w, CFG)},
        key=lambda w: (df.get(w, 0), w),
    )
    return words[:n]
