"""Guard: the engine reads no GOS2_* environment variable.

A tuning knob that only an environment variable can set is an option no
caller sees and no test exercises. Plan choices belong in code, derived
from what the engine can observe (input layout, covering size). Session
deployment settings (``SPARK_*`` in spark/session.py) are not knobs of
this kind and stay allowed, except the two session sizes that are now
derived or constant: the shuffle partition count (two per core, or the
``shuffle_partitions`` argument) and the scan split size. Pure AST scan,
no Spark.
"""

import ast
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
_KNOB = re.compile(r"GOS2_[A-Z0-9_]*|SPARK_SHUFFLE_PARTITIONS|SPARK_MAX_PARTITION_BYTES")


def _engine_files():
    yield ROOT / "__spark_entry__.py"
    yield from sorted((ROOT / "gos2_spark").rglob("*.py"))


def test_engine_reads_no_gos2_env_var():
    hits = []
    for path in _engine_files():
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and _KNOB.fullmatch(node.value)
            ):
                hits.append(f"{path.relative_to(ROOT)}:{node.lineno} {node.value}")
    assert not hits, "environment knobs read by the engine:\n" + "\n".join(hits)

