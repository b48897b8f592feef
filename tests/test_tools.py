"""The measurement tools under tools/, checked without a Spark session:
the plan-shape summary of tools/plans.py, the variant resolver of
tools/ab.py, that every tool answers --help without side effects, and
that every tool that starts Spark hands the repo to its Python workers
first."""

import ast
import glob
import importlib.util
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(REPO, "tools")


def _load(name):
    spec = importlib.util.spec_from_file_location(
        f"tools_{name}", os.path.join(TOOLS, f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# explain("formatted"): the tree names every operator once more than
# the numbered headers below it, with the number after the name.
CANNED_PLAN = """== Physical Plan ==
AdaptiveSparkPlan (14)
+- BroadcastNestedLoopJoin Inner BuildRight (13)
   :- CartesianProduct Inner (9)
   :  :- Exchange (4)
   :  :  +- BatchEvalPython (3)
   :  :     +- Project (2)
   :  :        +- Scan parquet  (1)
   :  +- Exchange (8)
   :     +- ArrowEvalPython (7)
   :        +- FlatMapGroupsInPandas (6)
   :           +- Scan parquet  (5)
   +- BroadcastExchange (12)
      +- Exchange (11)
         +- Scan parquet  (10)


(1) Scan parquet
Output [2]: [k#0L, txt#1]

(2) Project
Output [2]: [k#0L, txt#1]

(3) BatchEvalPython
Arguments: [clean(txt#1)#5]

(4) Exchange
Arguments: hashpartitioning(k#0L, 4), ENSURE_REQUIREMENTS, [plan_id=10]

(5) Scan parquet
Output [2]: [k#2L, vec#3]

(6) FlatMapGroupsInPandas
Arguments: [k#2L], verify(k#2L, vec#3)#7

(7) ArrowEvalPython
Arguments: [norm(vec#3)#8], 200

(8) Exchange
Arguments: hashpartitioning(k#2L, 4), ENSURE_REQUIREMENTS, [plan_id=11]

(9) CartesianProduct
Join type: Inner

(10) Scan parquet
Output [1]: [cond#4]

(11) Exchange
Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=12]

(12) BroadcastExchange
Arguments: IdentityBroadcastMode, [plan_id=13]

(13) BroadcastNestedLoopJoin
Join type: Inner

(14) AdaptiveSparkPlan
Arguments: isFinalPlan=false
"""


def test_plan_summary_reads_numbered_headers_only():
    shape = _load("plans").summarize(CANNED_PLAN)
    # 3 shuffle headers, not the 6 "Exchange" names the tree adds
    assert shape["exchanges"] == 3
    assert shape["broadcasts"] == 1
    assert shape["joins"] == ["BroadcastNestedLoopJoin", "CartesianProduct"]
    assert shape["py"] == [
        "ArrowEvalPython",
        "BatchEvalPython",
        "FlatMapGroupsInPandas",
    ]
    assert shape["flags"] == ["CARTESIAN", "ROW_UDF"]


def test_plan_summary_of_a_plain_plan_has_no_flags():
    plain = "(1) Scan parquet\n\n(2) Exchange\n\n(3) HashAggregate\n"
    assert _load("plans").summarize(plain) == {
        "exchanges": 1,
        "broadcasts": 0,
        "joins": [],
        "py": [],
        "flags": [],
    }


def test_ab_resolves_registered_names_and_builder_files(tmp_path):
    import __spark_entry__

    ab = _load("ab")
    registry = __spark_entry__.queries()
    q01 = registry["q01_pricing_summary"]
    assert ab.resolve("q01_pricing_summary", registry) is q01

    variant = tmp_path / "variant.py"
    variant.write_text("def q01_alt(spark, sf_dir):\n    return ('alt', sf_dir)\n")
    assert ab.resolve(f"{variant}:q01_alt", registry)(None, "sf") == ("alt", "sf")

    with pytest.raises(ValueError, match="neither a registered query"):
        ab.resolve("q01_no_such_query", registry)
    with pytest.raises(ValueError, match="no function"):
        ab.resolve(f"{variant}:missing", registry)


@pytest.mark.parametrize(
    "script",
    sorted(os.path.basename(p) for p in glob.glob(os.path.join(TOOLS, "*.py"))),
)
def test_tool_help_exits_cleanly(script, tmp_path):
    """--help prints usage and exits 0 from any working directory,
    without starting Spark or writing files."""
    proc = subprocess.run(
        [sys.executable, os.path.join(TOOLS, script), "--help"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert list(tmp_path.iterdir()) == []


def _calls(tree):
    """(enclosing function, called name, line) of every call by name."""
    found = []

    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name)
                continue
            if isinstance(child, ast.Call):
                func = child.func
                name = func.id if isinstance(func, ast.Name) else getattr(func, "attr", None)
                found.append((scope, name, child.lineno))
            visit(child, scope)

    visit(tree, "<module>")
    return found


def unexported_sessions(tools_dir):
    """``script:line`` of every get_spark call in ``tools_dir/*.py`` that
    no earlier export_repo_to_workers call in the same function precedes."""
    bad = []
    for path in sorted(glob.glob(os.path.join(tools_dir, "*.py"))):
        with open(path) as fh:
            calls = _calls(ast.parse(fh.read(), path))
        for scope, name, line in calls:
            if name == "get_spark" and not any(
                s == scope and n == "export_repo_to_workers" and ln < line
                for s, n, ln in calls
            ):
                bad.append(f"{os.path.basename(path)}:{line}")
    return bad


def test_tools_hand_the_repo_to_python_workers_before_starting_spark():
    """Spark's Python workers start in the JVM's working directory, so a
    tool run from outside the repo must export it first (see
    _decade_common.export_repo_to_workers) or its UDFs cannot unpickle."""
    assert unexported_sessions(TOOLS) == []
