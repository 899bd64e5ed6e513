"""``tools/dump_plans.normalize_plan``: two explain texts of one plan
that differ only in counter-drawn ids normalize to the same text, and a
real difference survives."""

import importlib.util
import os

_spec = importlib.util.spec_from_file_location(
    "dump_plans",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "dump_plans.py"),
)
dump_plans = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(dump_plans)


def normalize_plan(text):
    return dump_plans.normalize_plan(text, tmp_root="/tmp")


def _plan(a, b, x, y, pid, rdd, site, tmp):
    return (
        f"(1) Scan parquet\nOutput [2]: [id#{a}L, text#{b}]\n"
        f"Location: InMemoryFileIndex [file:/tmp/gs_ivfstore_{tmp}/lists]\n"
        f"(2) Project\nOutput [2]: [id#{a}L, transform(split(text#{b}, ' ', -1), "
        f"lambdafunction(upper(lambda x_{x}#{x + 1000}), lambda x_{x}#{x + 1000}, false)) "
        f"AS up#{a + 7}, aggregate(a#{b}, 0, lambdafunction((lambda acc_{y}#9 + lambda y_{y + 1}#10)))]\n"
        f"(3) Exchange\nArguments: hashpartitioning(id#{a}L, 4), ENSURE_REQUIREMENTS, "
        f"[plan_id={pid}]\n"
        f"(4) Scan ExistingRDD\nArguments: [id#{a}L], MapPartitionsRDD[{rdd}] at "
        f"localCheckpoint at {site}, ExistingRDD\n"
    )


def test_normalize_plan_removes_counter_drawn_ids():
    one = _plan(12, 13, 605, 607, 19823, 737, "<unknown>:0", "cyz5k090")
    two = _plan(340, 339, 61, 58, 5, 12, "/src/pkg/operators/similarity.py:1147", "a_b9zq1x")
    assert one != two
    assert normalize_plan(one) == normalize_plan(two)
    out = normalize_plan(one)
    assert "[id#0L, text#1]" in out
    assert "lambda x_0#" in out and "lambda acc_1#" in out and "lambda y_2#" in out
    assert "[plan_id=0]" in out
    assert "MapPartitionsRDD[0], ExistingRDD" in out
    assert "file:/tmp/gs_ivfstore_XXXXXXXX/lists" in out
    assert normalize_plan(out) == out


def test_normalize_plan_keeps_real_differences():
    base = _plan(12, 13, 605, 607, 1, 2, "<unknown>:0", "cyz5k090")
    # the same column referenced where a different one was
    swapped = base.replace("hashpartitioning(id#12L", "hashpartitioning(text#13")
    assert normalize_plan(base) != normalize_plan(swapped)
    # SQL-named lambda variables and stable paths are left alone
    text = "lambda id#5, lambda a#6 file:/data/sf0.01/orders.parquet Scan parquet (3)"
    assert normalize_plan(text) == "lambda id#0, lambda a#1 file:/data/sf0.01/orders.parquet Scan parquet (3)"
