"""The scale module's conf scope and scan fan-out, and the package's
env surface and size probes."""

from __future__ import annotations

import ast
import os
import pathlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark import SparkContext

from kinesis_to_opensearch_lambda_spark import scale
from kinesis_to_opensearch_lambda_spark.sources.batch import fan_out

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


# --- scan fan-out ------------------------------------------------------
#
# The test tables are one single-row-group file each, so the registry
# never reaches most branches of the fan-out decision.  These frames do.
# The width is pinned at 32 so "starved" (at most 16 tasks) does not
# depend on the host's cores.

WIDTH = 32


@pytest.fixture
def wide(monkeypatch):
    monkeypatch.setattr(SparkContext, "defaultParallelism", property(lambda sc: WIDTH))


def _write(path: pathlib.Path, n_files: int, rows: int, row_groups: int) -> str:
    """``n_files`` uncompressed parquet files of ``rows`` random longs
    (8 bytes a row), each with ``row_groups`` row groups."""
    path.mkdir()
    rng = np.random.default_rng(7)
    for i in range(n_files):
        table = pa.table({"v": rng.integers(0, 1 << 62, rows)})
        pq.write_table(
            table,
            path / f"part-{i}.parquet",
            row_group_size=-(-rows // row_groups),
            compression="none",
        )
    return str(path)


def _repartitioned_to(df) -> int | None:
    plan = df._jdf.queryExecution().logical().toString()
    head = plan.splitlines()[0]
    if not head.startswith("Repartition "):
        return None
    width, shuffle = head[len("Repartition "):].split(", ")
    assert shuffle == "true", plan
    return int(width)


def test_fan_out_packs_many_tiny_files_into_few_bins(spark, tmp_path, wide):
    # 12 files of 4 row groups: each costs openCostInBytes (4 MB) plus a
    # few KB, so they pack into 13 bins of 4 MB, at most half the width.
    # Counted per row group (48) the scan would look wide.
    df = spark.read.parquet(_write(tmp_path / "tiny", 12, 400, 4))
    assert _repartitioned_to(fan_out(df)) == WIDTH


def _small_splits(spark):
    """A 1 KB open cost: a 1 MB file splits into 33 byte ranges of
    1 MB / 32 (under the 64 KB cap)."""
    return scale.scoped_conf(
        spark,
        {
            "spark.sql.files.maxPartitionBytes": "64k",
            "spark.sql.files.openCostInBytes": "1k",
        },
    )


def test_fan_out_caps_one_row_group_file_by_its_row_groups(spark, tmp_path, wide):
    # 33 byte-range splits, but only the split holding the one row
    # group's start carries rows: the scan is one task wide.
    df = spark.read.parquet(_write(tmp_path / "one_rg", 1, 1 << 17, 1))
    with _small_splits(spark):
        assert _repartitioned_to(fan_out(df)) == WIDTH


def test_fan_out_passes_a_scan_with_enough_row_groups(spark, tmp_path, wide):
    # the same 33 splits over 40 row groups are all row-bearing
    df = spark.read.parquet(_write(tmp_path / "many_rg", 1, 1 << 17, 40))
    with _small_splits(spark):
        assert fan_out(df) is df


def test_fan_out_passes_a_source_it_cannot_stat(spark, tmp_path, wide, monkeypatch):
    path = _write(tmp_path / "gone", 1, 100, 1)
    missing = spark.read.parquet(path)
    os.remove(os.path.join(path, "part-0.parquet"))
    assert fan_out(missing) is missing
    remote = spark.read.parquet(_write(tmp_path / "remote", 1, 100, 1))
    monkeypatch.setattr(remote, "inputFiles", lambda: ["s3a://bucket/t/part-0.parquet"])
    assert fan_out(remote) is remote


def test_fan_out_passes_an_in_memory_frame(spark, wide):
    df = spark.range(10)
    assert fan_out(df) is df


def test_size_probes_live_in_scale():
    """Only scale.py stats files, lists a scan's files or reads parquet
    footers, and reliable lineage cuts are a deployment setting: no
    function takes a checkpoint directory except the streaming fan-out,
    whose checkpoint is the query's own location."""
    probes = ("os.path.getsize", ".inputFiles(", "ParquetFile")
    found = {
        (str(p.relative_to(PACKAGE)), probe)
        for p in PACKAGE.rglob("*.py")
        for probe in probes
        if probe in p.read_text()
    }
    assert found == {("scale.py", probe) for probe in probes}
    takers = {
        node.name
        for p in PACKAGE.rglob("*.py")
        for node in ast.walk(ast.parse(p.read_text()))
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and "checkpoint_dir"
        in [a.arg for a in node.args.args + node.args.kwonlyargs + node.args.posonlyargs]
    }
    assert takers == {"dual_sink_fanout"}
