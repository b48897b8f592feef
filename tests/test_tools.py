"""The measurement tools under tools/.  Without a Spark session: the
plan-shape summary of tools/plans.py, the variant resolver of
tools/ab.py, that every tool answers --help without side effects, and
that every tool that starts Spark hands the repo to its Python workers
first and takes get_spark()'s default master with the UI off.  With
one: the status-store stage reader of tools/decade.py."""

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


# the choices a tool's --help must list, one per line
HELP_LISTS = {
    "decade.py": (
        "asof", "bm25", "bpe", "catalog", "cc", "enrich",
        "ingest", "mm", "pack", "probe", "skew",
    ),
}


# the per-operator scripts folded into decade.py: each is now the case
# of that name there, and its --help is decade.py's with the case named
FOLDED = {f"{case}_decade.py": case for case in HELP_LISTS["decade.py"]}


@pytest.mark.parametrize(
    "script",
    sorted(
        [os.path.basename(p) for p in glob.glob(os.path.join(TOOLS, "*.py"))]
        + list(FOLDED)
    ),
)
def test_tool_help_exits_cleanly(script, tmp_path):
    """--help prints usage and exits 0 from any working directory,
    without starting Spark or writing files, and lists the tool's
    choices."""
    argv = ["decade.py", FOLDED[script]] if script in FOLDED else [script]
    proc = subprocess.run(
        [sys.executable, os.path.join(TOOLS, argv[0]), *argv[1:], "--help"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert list(tmp_path.iterdir()) == []
    choices = (FOLDED[script],) if script in FOLDED else HELP_LISTS.get(script, ())
    for choice in choices:
        assert f"\n  {choice} " in proc.stdout, choice


def _calls(tree):
    """(enclosing function, called name, call node) of every call by name."""
    found = []

    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name)
                continue
            if isinstance(child, ast.Call):
                func = child.func
                name = func.id if isinstance(func, ast.Name) else getattr(func, "attr", None)
                found.append((scope, name, child))
            visit(child, scope)

    visit(tree, "<module>")
    return found


def _trees(tools_dir):
    for path in sorted(glob.glob(os.path.join(tools_dir, "*.py"))):
        with open(path) as fh:
            yield os.path.basename(path), ast.parse(fh.read(), path)


def unexported_sessions(tools_dir):
    """``script:line`` of every get_spark call in ``tools_dir/*.py`` that
    no earlier export_repo_to_workers call in the same function precedes."""
    bad = []
    for script, tree in _trees(tools_dir):
        calls = _calls(tree)
        for scope, name, node in calls:
            if name == "get_spark" and not any(
                s == scope and n == "export_repo_to_workers" and c.lineno < node.lineno
                for s, n, c in calls
            ):
                bad.append(f"{script}:{node.lineno}")
    return bad


def fixed_sessions(tools_dir):
    """``script:line what`` of every place in ``tools_dir/*.py`` that
    passes ``master=`` to get_spark, names ``spark.ui.enabled`` or
    imports urllib."""
    bad = []
    for script, tree in _trees(tools_dir):
        for _, name, node in _calls(tree):
            if name == "get_spark" and any(k.arg == "master" for k in node.keywords):
                bad.append(f"{script}:{node.lineno} master")
        for node in ast.walk(tree):
            if isinstance(node, ast.Constant) and node.value == "spark.ui.enabled":
                bad.append(f"{script}:{node.lineno} ui")
            names = (
                [a.name for a in node.names] if isinstance(node, ast.Import)
                else [node.module or ""] if isinstance(node, ast.ImportFrom)
                else []
            )
            if any(n.split(".")[0] == "urllib" for n in names):
                bad.append(f"{script}:{node.lineno} urllib")
    return bad


def test_tools_hand_the_repo_to_python_workers_before_starting_spark():
    """Spark's Python workers start in the JVM's working directory, so a
    tool run from outside the repo must export it first (see
    _decade_common.export_repo_to_workers) or its UDFs cannot unpickle."""
    assert unexported_sessions(TOOLS) == []


def test_tools_take_the_default_master_without_the_ui_or_http():
    """Every tool runs at get_spark()'s default master, so its numbers
    carry the host's core count, and reads Spark metrics in process:
    no fixed master, no Spark UI, no HTTP."""
    assert fixed_sessions(TOOLS) == []


def test_decade_stage_reader_counts_a_run_without_the_ui(spark, tmp_path):
    """tools/decade.py reads stage metrics from the in-process status
    store through calls that are private[spark] in Scala; this pins
    them, and their meaning, against a PySpark upgrade."""
    from pyspark.sql import functions as F

    n = 5000
    path = str(tmp_path / "rows")
    spark.range(n).write.parquet(path)
    df = spark.read.parquet(path).groupBy((F.col("id") % 7).alias("k")).count()

    rows, m = _load("decade").run_once(spark, df.collect)
    assert spark.sparkContext.uiWebUrl is None
    assert sum(r["count"] for r in rows) == n
    assert m["input_records"] == n
    assert m["shuffle_bytes"] > 0
