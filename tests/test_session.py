"""One session factory: every SparkSession the repo builds comes from
core.session.get_session, which sizes a local driver's heap from the box."""

import ast
import collections
import pathlib

from anovos_spark.core import session


def test_only_get_session_builds_sessions():
    """The engine, the bench, the tools and the tests all run the one
    configured session: ``SparkSession.builder`` appears only in
    core/session.py."""
    root = pathlib.Path(__file__).resolve().parents[1]
    paths = [root / "bench.py"]
    for d in ("anovos_spark", "tools", "tests"):
        paths += (root / d).rglob("*.py")
    sites = collections.Counter()
    for path in paths:
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Attribute) and node.attr == "builder":
                base = node.value
                name = base.attr if isinstance(base, ast.Attribute) else getattr(base, "id", None)
                if name == "SparkSession":
                    sites[path.relative_to(root).as_posix()] += 1
    assert sites == {"anovos_spark/core/session.py": 1}


def test_local_driver_memory_is_a_quarter_of_the_box_with_a_1g_floor(monkeypatch):
    monkeypatch.setattr(session, "_box_memory_mb", lambda: 16000)
    assert session._local_driver_memory() == "4000m"
    monkeypatch.setattr(session, "_box_memory_mb", lambda: 2000)
    assert session._local_driver_memory() == "1024m"
    monkeypatch.setattr(session, "_box_memory_mb", lambda: None)
    assert session._local_driver_memory() == "1024m"


def test_local_session_gets_the_box_sized_heap_and_engine_defaults(spark):
    conf = dict(spark.sparkContext.getConf().getAll())
    assert conf["spark.driver.memory"] == session._local_driver_memory()
    for key in ("spark.sql.execution.arrow.pyspark.enabled",
                "spark.sql.codegen.cache.maxEntries",
                "spark.executorEnv.OMP_NUM_THREADS"):
        assert conf[key] == session.DEFAULT_CONF[key]
