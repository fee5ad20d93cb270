"""The scale module's conf scope, and the package's env surface."""

from __future__ import annotations

import ast
import pathlib

import pytest

from kinesis_to_opensearch_lambda_spark import scale

PACKAGE = pathlib.Path(scale.__file__).parent


def test_scoped_conf_sets_and_restores_every_key(spark):
    width, split, unset = (
        "spark.sql.shuffle.partitions",
        "spark.sql.files.maxPartitionBytes",
        "spark.graft.test.scoped_conf",
    )
    spark.conf.set(split, "1234567")
    prev_width = spark.conf.get(width)
    assert spark.conf.get(unset, None) is None
    with pytest.raises(RuntimeError, match="inside"):
        with scale.scoped_conf(spark, {width: 3, split: "2m", unset: True}):
            assert spark.conf.get(width) == "3"
            assert spark.conf.get(split) == "2m"
            assert spark.conf.get(unset) == "True"
            raise RuntimeError("inside")
    assert spark.conf.get(width) == prev_width
    assert spark.conf.get(split) == "1234567"
    assert spark.conf.get(unset, None) is None  # unset again, not ""
    spark.conf.unset(split)


def _env_reads() -> tuple[set[str], list[str]]:
    """Env names the package reads (literal or through a module-level
    string constant), and every other use of ``environ``."""
    trees = {
        p: ast.parse(p.read_text(), str(p)) for p in sorted(PACKAGE.rglob("*.py"))
    }
    consts = {
        t.id: node.value.value
        for tree in trees.values()
        for node in tree.body
        if isinstance(node, ast.Assign)
        and isinstance(node.value, ast.Constant)
        and isinstance(node.value.value, str)
        for t in node.targets
        if isinstance(t, ast.Name)
    }

    def name_of(arg: ast.expr) -> str:
        if isinstance(arg, ast.Constant):
            return arg.value
        return consts[arg.id]

    names, other = set(), []
    for path, tree in trees.items():
        parents = {c: n for n in ast.walk(tree) for c in ast.iter_child_nodes(n)}
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr == "getenv":
                names.add(name_of(parents[node].args[0]))
            if not (isinstance(node, ast.Attribute) and node.attr == "environ"):
                continue
            up = parents[node]
            if isinstance(up, ast.Subscript):
                names.add(name_of(up.slice))
            elif isinstance(up, ast.Attribute) and up.attr in ("get", "pop"):
                names.add(name_of(parents[up].args[0]))
            else:
                other.append(str(path.relative_to(PACKAGE)))
    return names, other


def test_env_surface_is_deployment_settings_only():
    names, other = _env_reads()
    assert names == {
        "SPARK_GRAFT_CHECKPOINT_DIR",
        "SPARK_GRAFT_CPUS",
        "SPARK_GRAFT_SF_DIR",
        "SPARK_DRIVER_MEMORY",
    }
    # config.py hands the whole environment to the reference's own
    # deployment keys (es_endpoint, index_prefix)
    assert other == ["config.py"]
