"""The benchmark's own tests: trace schema, metric lists, helpers.

    python3 -m pytest perfbench -q

No Spark session is started.
"""

import json
import os
import types

import pytest

import inputs
import layers
import run
from check import Golden, matches
from tracing import SCHEMA, Tracer, validate
from workloads import tail_percentile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _traced_doc():
    mod = types.SimpleNamespace(outer=None, inner=lambda x: x + 1)
    mod.outer = lambda x: mod.inner(x) * 2
    tr = Tracer()
    tr.target(mod, "outer", "layer.outer")
    tr.target(mod, "inner", "layer.inner", lambda sp, out: sp["attrs"].update(out=out))
    tr.install()
    with tr.span("op.query"):
        assert mod.outer(1) == 4
    tr.uninstall()
    assert not hasattr(mod.outer, "__wrapped__")
    tr.attribute_spark(None)
    tr.finish()
    return tr.document(workload="test")


def test_trace_document_schema():
    doc = _traced_doc()
    assert doc["schema"] == SCHEMA
    names = [sp["name"] for sp in doc["spans"]]
    assert names == ["op.query", "layer.outer", "layer.inner"]
    op, outer, inner = doc["spans"]
    assert outer["parent"] == op["id"] and inner["parent"] == outer["id"]
    assert {sp["op"] for sp in doc["spans"]} == {op["op"]}
    assert inner["attrs"]["out"] == 2
    # self time: a span's duration minus its children's
    dur = (outer["end"] - outer["start"]) * 1000.0
    inner_ms = (inner["end"] - inner["start"]) * 1000.0
    assert outer["self_ms"] == pytest.approx(dur - inner_ms)
    json.dumps(doc)  # written out as JSON at exit


@pytest.mark.parametrize("breakage", ["missing_key", "bad_parent", "reversed"])
def test_trace_schema_rejects(breakage):
    doc = _traced_doc()
    sp = doc["spans"][1]
    if breakage == "missing_key":
        del sp["self_ms"]
    elif breakage == "bad_parent":
        sp["parent"] = 99
    else:
        sp["end"] = sp["start"] - 1.0
    with pytest.raises(ValueError):
        validate(doc)


def test_metric_lists_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == layers.METRICS
    import workloads

    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)


def test_tombstones_count_in_term_df_not_in_composed_lists():
    from search_engine_framework_spark.plans.parser import parse_query

    from check import MODEL, TombstoneOracle

    rows = [
        {"conv_id": "c", "turn_idx": i, "role": "user", "text": t, "tool": None}
        for i, t in enumerate(["apple pear", "apple", "pear kiwi", "kiwi"])
    ]
    golden = Golden(rows, dead=frozenset({1}))
    oracle = TombstoneOracle(golden.ix, MODEL, golden.dead)

    def df(q):
        (node,) = parse_query(q, MODEL, inputs.CFG).children  # under #SUM
        return oracle.eval_il(node).df

    assert df("apple") == 2  # the stored df keeps the tombstoned doc
    assert df("#SYN(apple kiwi)") == 3  # the derived list does not
    hits = golden.expected(inputs.Query("q", "#SUM(#SYN(apple kiwi) pear)"), 10)
    assert 1 not in [d for d, *_ in hits]


def test_tail_percentile():
    assert tail_percentile(list(range(10))) == (None, None, 10)
    value, pct, n = tail_percentile(list(range(1, 31)))
    # 10 samples (21..30) lie beyond the reported value
    assert (value, n) == (20, 30)
    assert pct == pytest.approx(100 * 20 / 30)


def test_match_rule():
    want = [(3, "c:0", 1, 2.0), (1, "a:1", 2, 1.0)]
    assert matches([(3, "c:0", 1, 2.0 * (1 + 5e-10)), (1, "a:1", 2, 1.0)], want)
    assert not matches([(3, "c:0", 1, 2.0 * (1 + 5e-9)), (1, "a:1", 2, 1.0)], want)
    assert not matches([(1, "a:1", 1, 2.0), (3, "c:0", 2, 1.0)], want)
    assert not matches(want[:1], want)


def test_staging_plan_fixes_turn_counts():
    rows = [(f"conv-{c:08d}", t) for c in range(400) for t in range(3 + c % 9)]
    plan = inputs._plan(rows)
    assert sum(n for _c, n in plan["corpus"]) == inputs.BASE_TURNS
    for b in range(inputs.N_BATCHES):
        part = plan[f"batch-{b}"]
        assert sum(n for _c, n in part) == inputs.BATCH_TURNS
        # batches follow the corpus in conv_id order
        assert min(c for c, _n in part) > max(c for c, _n in plan["corpus"])


def test_staging_is_seeded_and_exact(tmp_path):
    a = inputs.stage(3, str(tmp_path / "a"))
    b = inputs.stage(3, str(tmp_path / "b"))
    assert a.base_rows == b.base_rows and a.batch_rows == b.batch_rows
    assert len(a.base_rows) == inputs.BASE_TURNS
    assert [len(rows) for rows in a.batch_rows] == [inputs.BATCH_TURNS] * inputs.N_BATCHES
    assert inputs.stage(4, str(tmp_path / "c")).base_rows != a.base_rows
