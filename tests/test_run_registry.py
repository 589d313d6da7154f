"""Smoke test of tools/run_registry.py on the test session: each data
mutation under --check count, --check invariance, and the runner's
verdicts (a crash fails the sweep, a ValueError on a mutated input is a
loud pass)."""

import importlib.util
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location(
    "run_registry", os.path.join(ROOT, "tools", "run_registry.py")
)
run_registry = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(run_registry)

# one lineitem, one documents and one orders query, all cheap
QUERIES = ["q1_pricing_summary", "text_statistics", "null_rows_detection"]


@pytest.fixture(autouse=True)
def _restore_exact_stats(monkeypatch):
    # the runner sets ANOVOS_EXACT_STATS from its check
    monkeypatch.setenv("ANOVOS_EXACT_STATS", "1")


@pytest.mark.parametrize("data", ["empty", "nulls", "adversarial_text"])
def test_count_under_each_mutation(spark, sf_dir, data, capsys):
    argv = ["--sf", sf_dir, "--data", data, "--check", "count", *QUERIES]
    assert run_registry.run(spark, argv) == 0
    assert f"3/3 pass --check count on --data {data}" in capsys.readouterr().out


def test_invariance_restores_the_partition_count(spark, sf_dir, capsys):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    assert run_registry.run(spark, ["--sf", sf_dir, "--check", "invariance", QUERIES[0]]) == 0
    assert "OK    q1_pricing_summary" in capsys.readouterr().out
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_crash_fails_the_sweep_and_value_error_is_loud(spark, sf_dir, monkeypatch, capsys):
    from anovos_spark import queries

    def crashes(spark, sf_dir):
        raise KeyError("l_tax")

    def refuses(spark, sf_dir):
        raise ValueError("no rows to fit")

    real = queries.registry()[QUERIES[0]]
    monkeypatch.setattr(queries, "registry",
                        lambda: {QUERIES[0]: real, "crashes": crashes, "refuses": refuses})
    assert run_registry.run(spark, ["--sf", sf_dir, "--data", "empty"]) == 1
    out = capsys.readouterr().out
    assert "CRASH crashes: KeyError" in out
    assert "LOUD  refuses: ValueError: no rows to fit" in out
    assert f"OK    {QUERIES[0]}: 0 rows" in out
    assert "2/3 pass --check count on --data empty; crashes: ['crashes']" in out
    # clean data may not be refused
    assert run_registry.run(spark, ["--sf", sf_dir, "refuses"]) == 1
    assert "CRASH refuses: ValueError" in capsys.readouterr().out
