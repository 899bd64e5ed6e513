"""Dump normalized ``explain("formatted")`` for bench queries to plans/<round>/.

Usage: python tools/dump_plans.py <suffix> [query ...]

The round dir is ``$SPARK_GRAFT_PLANS_ROUND`` (default r17).
Writes plans/<round>/<query>_<suffix>.txt for each query (default: every
bench query). Queries whose construction runs eager work (training,
pagerank) still produce their post-checkpoint plan — same convention
as tools/plan_audit.py.

The text is normalized (:func:`normalize_plan`) so that two dumps of the
same tree are byte-identical: queries that build on pool threads draw
expression ids and lambda-variable names from the JVM's global counters
in a timing-dependent order, and plan ids, RDD ids and temp-dir names
depend on what the session ran before.
"""

from __future__ import annotations

import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_EXPR_ID = re.compile(r"#(\d+)")
_LAMBDA_VAR = re.compile(r"\blambda (\w+?)_(\d+)\b")
_PLAN_ID = re.compile(r"\bplan_id=(\d+)")
_RDD = re.compile(r"\b(\w*RDD)\[(\d+)\](?: at \w+ at \S+:\d+)?")


def _renumber(pattern: re.Pattern, text: str, render) -> str:
    """Replace each distinct match of ``pattern`` by ``render(m, k)``,
    ``k`` numbering the distinct matches by first appearance."""
    seen: dict[str, int] = {}

    def sub(m: re.Match) -> str:
        k = seen.setdefault(m.group(0), len(seen))
        return render(m, k)

    return pattern.sub(sub, text)


def normalize_plan(text: str, tmp_root: str = tempfile.gettempdir()) -> str:
    """Make an explain text independent of session history and thread
    timing: ``#N`` expression ids, ``name_N`` lambda variables,
    ``plan_id=N`` and ``RDD[N]`` ids are renumbered by first appearance
    (an RDD's creation site is dropped: which call a pool thread reports
    depends on timing), and the random suffix of a temp dir
    under ``tmp_root`` (``tempfile.mkdtemp``'s 8 characters) is masked.
    Renumbering keeps which references share one id, so a real plan
    change still shows."""
    text = _renumber(_EXPR_ID, text, lambda m, k: f"#{k}")
    text = _renumber(_LAMBDA_VAR, text, lambda m, k: f"lambda {m.group(1)}_{k}")
    text = _renumber(_PLAN_ID, text, lambda m, k: f"plan_id={k}")
    text = _renumber(_RDD, text, lambda m, k: f"{m.group(1)}[{k}]")
    tmp_dir = re.compile(
        re.escape(tmp_root.rstrip("/")) + r"/([^/\s\[\],]*?)[a-z0-9_]{8}(?=[/\s\[\],)]|$)"
    )
    return tmp_dir.sub(lambda m: f"{tmp_root.rstrip('/')}/{m.group(1)}XXXXXXXX", text)


def main() -> int:
    from gluestick_ts_spark.plans.queries import QUERIES
    from gluestick_ts_spark.session import get_spark

    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:]
    if not names:
        from bench import BENCH_QUERIES

        names = list(BENCH_QUERIES)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r17"),
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="gluestick-ts-spark-plandump")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        try:
            df = QUERIES[name](spark, sf_dir)
            txt = normalize_plan(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            ))
        except Exception as exc:  # noqa: BLE001 — keep dumping the rest
            txt = f"ERROR building/explaining {name}: {type(exc).__name__}: {exc}"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(txt)
        print(f"wrote {path} ({len(txt)} chars)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
