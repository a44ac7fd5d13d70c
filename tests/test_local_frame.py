"""sources.local_frame: driver-built rows as an Arrow local relation.

For every row shape the package builds on the driver, the helper gives
the same schema and rows as ``spark.createDataFrame(rows, schema)``, and
its executed plan is one ``LocalTableScan`` (no ``PythonRDD`` scan, so no
Python-worker tasks when the plan runs)."""

from __future__ import annotations

import ast
import os

import pytest
from pyspark.sql import Row

import automotive_translation_pipeline_spark as pkg
from automotive_translation_pipeline_spark.schemas import LEDGER
from automotive_translation_pipeline_spark.sources import local_frame


def _ledger_row(job_id, status, ts, output_file=None):
    return {
        "batch_id": f"b-{job_id}",
        "input_file": "in.csv",
        "job_id": job_id,
        "status": status,
        "timestamp": ts,
        "target_language": "de",
        "output_file": output_file,
    }


SHAPES = {
    "struct_from_tuple": (
        [(1, (64, 48, 1000, "synthetic")), (2, None), (3, (1, None, 5, None))],
        "media_id long, meta struct<width:int, height:int, "
        "duration_ms:bigint, codec:string>",
    ),
    "binary_from_bytearray": (
        [(1, bytearray(b"\x89PNG\r\n\x1a\n")), (2, None), (3, bytearray())],
        "media_id long, content binary",
    ),
    "array_double": (
        [(0, [1.0, -2.5, 1e-300]), (1, []), (2, None)],
        "__cell int, __centroid array<double>",
    ),
    "dict_rows": (
        [_ledger_row("j1", "submitted", 5), _ledger_row("j2", "completed", 7, "o")],
        LEDGER,
    ),
    "row_rows": (
        [
            Row(batch_id="b1", input_file=None, job_id="j1", status="failed",
                timestamp=9, target_language="fr", output_file=None),
            Row(**_ledger_row("j2", "completed", 11, "out.csv")),
        ],
        LEDGER,
    ),
    "zero_rows": ([], "probe long"),
}


def _is_single_local_scan(df) -> bool:
    plan = df._jdf.queryExecution().executedPlan()
    return plan.nodeName() == "LocalTableScan" and plan.children().size() == 0


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_local_frame_matches_create_dataframe(spark, shape):
    rows, schema = SHAPES[shape]
    want = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert _is_single_local_scan(got)


def _package_trees():
    """(path, parsed module) for every ``.py`` file in the package."""
    for dirpath, _, files in os.walk(os.path.dirname(pkg.__file__)):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                with open(path, encoding="utf-8") as fh:
                    yield path, ast.parse(fh.read())


def test_package_builds_local_tables_only_through_local_frame():
    """No package module calls ``createDataFrame`` except the helper
    itself: a list-built DataFrame is a ``PythonRDD`` scan that starts
    Python-worker tasks on every execution."""
    offenders = []
    for path, tree in _package_trees():
        helper = set()
        if path.endswith(os.path.join("sources", "readers.py")):
            for node in ast.walk(tree):
                if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
                    helper = {id(n) for n in ast.walk(node)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and node.attr == "createDataFrame"
                and id(node) not in helper
            ):
                offenders.append(f"{path}:{node.lineno}")
    assert offenders == []


# The whole environment surface of the package: the live-transport key,
# two deployment settings and one opt-in safety check. Operator tuning
# values are module constants (tests monkeypatch those), not env reads.
ENV_READS = {
    "OPENAI_API_KEY",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_BIGRAM_FP_CHECK",
}


def _env_key(node):
    """The key expression of an ``os.environ`` / ``os.getenv`` read at
    ``node`` (``.get``/``[...]``/``in``), else None."""
    def is_os(n):
        return isinstance(n, ast.Name) and n.id == "os"

    def is_environ(n):
        return isinstance(n, ast.Attribute) and n.attr == "environ" and is_os(n.value)

    if isinstance(node, ast.Call) and node.args and isinstance(node.func, ast.Attribute):
        f = node.func
        if is_environ(f.value) or (f.attr == "getenv" and is_os(f.value)):
            return node.args[0]
    if isinstance(node, ast.Subscript) and is_environ(node.value):
        return node.slice
    if isinstance(node, ast.Compare) and is_environ(node.comparators[-1]):
        return node.left
    return None


def test_package_reads_only_the_known_env_vars():
    """Every environment read in the package names a literal key from
    ``ENV_READS``: no operator grows a hidden knob."""
    read, offenders = set(), []
    for path, tree in _package_trees():
        for node in ast.walk(tree):
            key = _env_key(node)
            if key is None:
                continue
            if isinstance(key, ast.Constant) and isinstance(key.value, str):
                read.add(key.value)
            else:
                offenders.append(f"{path}:{node.lineno}")
    assert offenders == []
    assert read <= ENV_READS, sorted(read - ENV_READS)
