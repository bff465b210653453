"""Results must be invariant to execution-config toggles: AQE on/off,
Arrow on/off, shuffle-partition counts — the properties the oracle hash
gate depends on — and every engine config knob must be a live one."""

import pytest

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"

PROBE_QUERIES = ["q1_pricing_summary", "minhash_signatures", "events_sessionization"]


def _snapshot(spark, name):
    df = entry_mod.queries()[name](spark, SF)
    return sorted(map(tuple, df.collect()))


@pytest.mark.parametrize("name", PROBE_QUERIES)
def test_results_invariant_to_exec_config(spark, name):
    baseline = _snapshot(spark, name)
    toggles = [
        ("spark.sql.adaptive.enabled", "false"),
        ("spark.sql.execution.arrow.pyspark.enabled", "false"),
        ("spark.sql.shuffle.partitions", "2"),
    ]
    saved = {k: spark.conf.get(k) for k, _ in toggles}
    try:
        for k, v in toggles:
            spark.conf.set(k, v)
            assert _snapshot(spark, name) == baseline, f"{name} changed under {k}={v}"
            spark.conf.set(k, saved[k])
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_every_engine_config_field_is_read():
    """A config knob nothing reads is a dead setting users can't tell
    apart from a live one.  Every EngineConfig field must be read as an
    attribute by package code outside config.py — directly, or through
    an EngineConfig property that is."""
    import ast
    import dataclasses
    import inspect
    import pathlib

    import inception_spark
    from inception_spark.config import EngineConfig

    pkg = pathlib.Path(inception_spark.__file__).parent
    read = {
        node.attr
        for path in pkg.rglob("*.py")
        if path.name != "config.py"
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load)
    }
    props = {
        name: inspect.getsource(p.fget)
        for name, p in vars(EngineConfig).items()
        if isinstance(p, property)
    }
    unread = [
        f.name
        for f in dataclasses.fields(EngineConfig)
        if f.name not in read
        and not any(
            f"self.{f.name}" in src and name in read
            for name, src in props.items()
        )
    ]
    assert unread == []
