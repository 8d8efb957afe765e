"""Index rollover — size-bounded index generations searched as one
federation (the Elasticsearch rollover / ILM-hot-phase analog, built on
this engine's own parts: incremental appends + MultiReader).

Why roll over at all: a single ever-growing index concentrates ALL
merge/compaction work and makes retention (drop last year's data)
a corpus-rewriting purge. Time/size-partitioned generations make
retention a directory delete, keep append cost bounded by the ACTIVE
generation's size, and bound every maintenance operation (compaction,
snapshot, verify) to one generation — which is exactly how log/search
deployments run Elasticsearch.

Design (everything reuses existing machinery — this module is
orchestration, not a new engine):

* ``gen-000000, gen-000001, …`` under one root; a batch appends to the
  ACTIVE (latest) generation (streaming/incremental.append_index,
  inheriting its idempotent replay + crash-safe commit protocol) or
  builds it if absent (index/build.build_index);
* rollover happens when the active generation's doc count reaches
  ``max_docs`` — checked BEFORE writing, so a generation can overshoot
  by at most one batch (the Elasticsearch max_docs contract);
* queries open ONE :class:`~.multi.MultiReader` across all generations:
  global statistics merge makes scores identical to a single combined
  index (index/multi.py's invariant — locked by the rollover test);
* retention = ``drop_generation`` on a sealed generation: a directory
  rename-then-delete, never a corpus rewrite. The docBase offsets of a
  MultiReader opened AFTER the drop renumber compactly — ext_id is the
  stable identity across generations, exactly as in multi.py.

ext_id uniqueness across generations is the caller's contract (same as
MultiReader). A duplicate (conv_id, turn_idx) re-sent to a LATER
generation is indexed again (the append-level dedup is per-generation);
put the streaming dedup gate (streaming/dedup.py) in front when replays
can straddle a rollover boundary.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from ..functions.analyzer import AnalyzerConfig
from .build import build_index
from .multi import MultiReader
from .reader import IndexReader

__all__ = ["RolloverIndex"]

_GEN_PREFIX = "gen-"


class RolloverIndex:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        max_docs: int = 1_000_000,
        fields: tuple[str, ...] = ("body",),
        cfg: AnalyzerConfig | None = None,
        n_buckets: int = 8,
        n_salts: int = 4,
    ):
        if max_docs < 1:
            raise ValueError("max_docs must be >= 1")
        self.spark = spark
        self.root = root
        self.max_docs = max_docs
        self.fields = fields
        self.cfg = cfg
        self.n_buckets = n_buckets
        self.n_salts = n_salts
        os.makedirs(root, exist_ok=True)

    # -- generation bookkeeping ------------------------------------------------
    def generations(self) -> list[str]:
        """Built generation dirs, oldest first (lexicographic = age)."""
        out = []
        for d in sorted(os.listdir(self.root)):
            if d.startswith(_GEN_PREFIX) and os.path.exists(
                os.path.join(self.root, d, "stats.json")
            ):
                out.append(os.path.join(self.root, d))
        return out

    def _active(self) -> str | None:
        gens = self.generations()
        return gens[-1] if gens else None

    def _next_gen_dir(self) -> str:
        gens = [
            int(d[len(_GEN_PREFIX):])
            for d in os.listdir(self.root)
            if d.startswith(_GEN_PREFIX)
        ]
        nxt = (max(gens) + 1) if gens else 0
        return os.path.join(self.root, f"{_GEN_PREFIX}{nxt:06d}")

    @staticmethod
    def _n_docs(gen_dir: str) -> int:
        with open(os.path.join(gen_dir, "stats.json")) as fh:
            return int(json.load(fh)["N"])

    # -- writes ----------------------------------------------------------------
    def write_batch(self, transcripts: DataFrame) -> str:
        """Index a batch into the active generation, rolling over first
        if it already holds >= max_docs. → the generation dir written."""
        from ..streaming.incremental import append_index

        active = self._active()
        if active is not None and self._n_docs(active) >= self.max_docs:
            active = None  # sealed: next batch starts a new generation
        if active is None:
            gen = self._next_gen_dir()
            build_index(
                self.spark,
                transcripts,
                gen,
                fields=self.fields,
                cfg=self.cfg,
                n_buckets=self.n_buckets,
                n_salts=self.n_salts,
            )
            return gen
        append_index(self.spark, transcripts, active)
        return active

    # -- reads -----------------------------------------------------------------
    def reader(self) -> MultiReader | IndexReader:
        """One reader over every generation (single-gen indexes open
        directly — no federation overhead for the common young case)."""
        gens = self.generations()
        if not gens:
            raise FileNotFoundError(f"no generations under {self.root}")
        if len(gens) == 1:
            return IndexReader(self.spark, gens[0])
        return MultiReader(self.spark, gens)

    # -- retention -------------------------------------------------------------
    def drop_generation(self, gen_dir: str) -> None:
        """Retention: delete one SEALED generation (never the active one
        — dropping the write target mid-append would tear it). A rename
        makes the drop atomic for concurrent readers; the bytes go
        afterwards."""
        import shutil

        gens = self.generations()
        if gen_dir not in gens:
            raise ValueError(f"{gen_dir} is not a built generation")
        if gen_dir == gens[-1] and len(gens) > 0:
            raise ValueError(
                "refusing to drop the ACTIVE generation; roll over first"
            )
        tomb = gen_dir + ".dropping"
        os.rename(gen_dir, tomb)
        shutil.rmtree(tomb)

    # -- force-merge -----------------------------------------------------------
    def force_merge(self, keep_active: bool = True) -> list[str]:
        """Physically merge SEALED generations into one (the ES
        force-merge / ILM shrink-phase analog, built on
        :func:`.merge.merge_indexes`): N sealed generations' segments,
        docmaps and forward indexes re-encode into a single replacement
        generation — queries that federated across N sub-readers now
        open one, and every tombstone in the sealed set is expunged.

        ``keep_active=True`` (default) leaves the newest generation
        (the append target) untouched, so ingestion never contends with
        the merge; ``False`` merges everything (quiesced index).

        Crash-safe by construction: the merge builds into a ``.merging``
        staging dir; only after it completes are the source generations
        renamed away and the staged dir renamed to the LOWEST merged
        generation number (so the replacement sorts before the active
        generation, and docBase/statistics ordering is stable). Every
        intermediate state leaves either the old generations or the
        completed merge on disk. Returns the surviving generation dirs.
        """
        import shutil

        from .merge import merge_indexes

        gens = self.generations()
        victims = gens[:-1] if keep_active else gens
        if len(victims) < 2:
            return gens  # nothing to merge
        staged = os.path.join(self.root, ".merging")
        shutil.rmtree(staged, ignore_errors=True)
        merge_indexes(self.spark, victims, staged)
        # publish: rename sources away first (readers opening mid-swap
        # see either the old federation or the merged gen — never both),
        # then slot the merged index in at the lowest victim number
        backups = []
        for g in victims:
            b = g + ".merged-away"
            os.rename(g, b)
            backups.append(b)
        os.rename(staged, victims[0])
        for b in backups:
            shutil.rmtree(b)
        return self.generations()
