"""Expected results from the pure-Python oracle, and the match rule.

The match rule is FIXTURES.md §6: identical docids, ext ids and ranks,
scores within 1e-9 relative. Goldens are computed before the timed loop.
"""

from __future__ import annotations

import math

from search_engine_framework_spark.oracle.pyoracle import InvListPy, Oracle, PyIndex
from search_engine_framework_spark.plans import ast
from search_engine_framework_spark.plans.models import BM25
from search_engine_framework_spark.plans.parser import parse_query

from inputs import CFG, FIELDS, Query

MODEL = BM25()

REL_TOL = 1e-9

Row = tuple[int, str, int, float]  # (doc_id, ext_id, rank, score)


class TombstoneOracle(Oracle):
    """The oracle on an index with tombstoned docs, as the engine reads it.

    The stored collection statistics — N, doc lengths and each term's df
    and ctf — still count tombstoned docs until a purge (Lucene semantics,
    as tests/test_deletes.py locks), so a bare term keeps its full posting
    list here. A composed list (#SYN, #NEAR, #WINDOW, #FIRST) has no stored
    statistics: the engine derives its df and ctf from the list itself
    (``ILResult.ensure_stats`` in plans/compiler.py), and builds the list
    from posting reads that ``IndexReader`` masks against the tombstone
    set, so its statistics count live docs only. Each list is per doc, so
    dropping dead docs after composing equals composing live postings."""

    def __init__(self, index: PyIndex, model, dead: frozenset[int]):
        super().__init__(index, model)
        self.dead = dead

    def eval_il(self, node: ast.Node) -> InvListPy:
        il = super().eval_il(node)
        if isinstance(node, ast.Term) or not self.dead:
            return il
        return InvListPy(il.field, [p for p in il.postings if p[0] not in self.dead])


class Golden:
    """Oracle over a set of transcript rows.

    ``doc_ids`` maps ext_id → the engine's doc_id when they differ from
    the dense (conv_id, turn_idx) rank the oracle assigns: survivors of a
    purge keep their original ids. ``dead`` holds tombstoned doc_ids:
    they never appear in a result, and count in statistics as
    :class:`TombstoneOracle` says."""

    def __init__(self, rows: list[dict], doc_ids: dict[str, int] | None = None,
                 dead: frozenset[int] = frozenset()):
        ix = PyIndex.build(rows, fields=FIELDS, cfg=CFG)
        if doc_ids is not None:
            # an order-preserving remap: both orders are (conv_id, turn_idx)
            remap = {d: doc_ids[e] for d, e in ix.ext_ids.items()}
            ix.postings = {
                k: [(remap[d], tf, pos) for d, tf, pos in pl]
                for k, pl in ix.postings.items()
            }
            ix.doclen = {(remap[d], f): v for (d, f), v in ix.doclen.items()}
            ix.ext_ids = {remap[d]: e for d, e in ix.ext_ids.items()}
        self.ix = ix
        self.dead = dead

    @property
    def n_postings(self) -> int:
        return sum(len(pl) for pl in self.ix.postings.values())

    def expected(self, q: Query, k: int) -> list[Row]:
        node = parse_query(q.text, MODEL, CFG)
        full = TombstoneOracle(self.ix, MODEL, self.dead).run(node, k=self.ix.n_docs)
        keep = [(d, e, s) for d, e, _r, s in full if d not in self.dead]
        return [(d, e, i + 1, s) for i, (d, e, s) in enumerate(keep[:k])]


def matches(got: list[Row], want: list[Row]) -> bool:
    if [g[:3] for g in got] != [w[:3] for w in want]:
        return False
    return all(
        math.isclose(g[3], w[3], rel_tol=REL_TOL, abs_tol=0.0)
        for g, w in zip(got, want)
    )


def rows_of(spark_rows) -> list[Row]:
    return [
        (r["doc_id"], r["ext_id"], r["rank"], float(r["score"]))
        for r in spark_rows
    ]
