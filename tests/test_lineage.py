"""truncate_lineage durability (operators/lineage.py).

The one deployment setting, SPARK_GRAFT_CHECKPOINT_DIR, switches every
cut to a reliable checkpoint(); unset or empty, cuts are
executor-local.  This is how tools/sweep.py --checkpoint-dir closes the
r9 GCLocker/localCheckpoint-eviction session-death class without
touching any call site.
"""

from __future__ import annotations

import os
from types import SimpleNamespace

import pytest

from kinesis_to_opensearch_lambda_spark.operators.lineage import (
    CHECKPOINT_DIR_ENV,
    truncate_lineage,
)


def _n_files(d: str) -> int:
    return sum(len(fs) for _, _, fs in os.walk(d))


def test_env_var_fallback_writes_reliable_checkpoint(spark, tmp_path, monkeypatch):
    ckpt = str(tmp_path / "from-env")
    monkeypatch.setenv(CHECKPOINT_DIR_ENV, ckpt)
    out = truncate_lineage(spark.range(100), eager=True)
    assert out.count() == 100
    # File presence IS the durability evidence (out.rdd wraps a fresh
    # javaToPython RDD, so isCheckpointed() can't observe the cut).
    assert _n_files(ckpt) > 0, "env-var checkpoint dir got no files"


def test_default_stays_local(spark, monkeypatch, tmp_path):
    # No env var, no explicit dir: the cut is executor-local — no
    # files appear in a candidate dir, and execution succeeds.
    monkeypatch.delenv(CHECKPOINT_DIR_ENV, raising=False)
    probe = str(tmp_path / "never-used")
    out = truncate_lineage(spark.range(10), eager=True)
    assert out.count() == 10
    assert not os.path.exists(probe)


def test_empty_env_var_means_local(spark, monkeypatch):
    # An exported-but-empty var (e.g. SPARK_GRAFT_CHECKPOINT_DIR= in a
    # wrapper script) must not become setCheckpointDir("").
    monkeypatch.setenv(CHECKPOINT_DIR_ENV, "")
    out = truncate_lineage(spark.range(10), eager=True)
    assert out.count() == 10


# --- truncate_lineage_scaled (r13): byte-guarded executor-local cuts ---
#
# At sf10 the triangle/k-core/BFS edge-scale cuts hard-OOMed a fresh
# 16 GiB JVM (deserialized localCheckpoint blocks), while the UNCUT
# form of the same query ran to completion — so executor-local cuts
# are now guarded by the source scan's bytes vs an executor-heap
# budget, and a reliable checkpoint dir (disk, not heap) always cuts.

from kinesis_to_opensearch_lambda_spark import scale  # noqa: E402
from kinesis_to_opensearch_lambda_spark.operators.lineage import (  # noqa: E402
    truncate_lineage_scaled,
)
from kinesis_to_opensearch_lambda_spark.scale import (  # noqa: E402
    heap_bytes,
    parse_mem,
)


def _parquet_df(spark, tmp_path):
    p = str(tmp_path / "src")
    spark.range(1000).write.mode("overwrite").parquet(p)
    return spark.read.parquet(p)


def _heap(monkeypatch, nbytes: int) -> None:
    """Pin the heap probe: the cut budgets derive from it."""
    monkeypatch.setattr(scale, "heap_bytes", lambda df: nbytes)


def test_scaled_cut_fires_under_budget(spark, tmp_path, monkeypatch):
    monkeypatch.delenv(CHECKPOINT_DIR_ENV, raising=False)
    _heap(monkeypatch, 1 << 40)  # 1 TiB heap: the tiny file fits
    src = _parquet_df(spark, tmp_path)
    out = truncate_lineage_scaled(src.selectExpr("id * 2 AS v"), source=src)
    assert out is not src
    # a cut plan no longer references the parquet scan
    assert "Scan parquet" not in out._jdf.queryExecution().toString()
    assert out.count() == 1000


def test_scaled_cut_over_deser_budget_cuts_serialized(spark, tmp_path, monkeypatch):
    # r14: over the deserialized budget but under the serialized one,
    # the cut still fires — with MEMORY_AND_DISK_SER blocks (compact,
    # disk-spilling) instead of deserialized row objects.
    monkeypatch.delenv(CHECKPOINT_DIR_ENV, raising=False)
    src = _parquet_df(spark, tmp_path)
    # heap == scan: the deser budget (3/192 of it) never fits, the
    # serialized one (the whole heap) just does
    _heap(monkeypatch, scale.scan_bytes(src))
    derived = src.selectExpr("id * 2 AS v")
    out = truncate_lineage_scaled(derived, source=src, eager=True)
    assert out is not derived
    assert "Scan parquet" not in out._jdf.queryExecution().toString()
    assert out.count() == 1000
    descs = [
        i.storageLevel().description()
        for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    ]
    assert any("Serialized" in d for d in descs), descs


def test_scaled_cut_lapses_over_both_budgets(spark, tmp_path, monkeypatch):
    monkeypatch.delenv(CHECKPOINT_DIR_ENV, raising=False)
    _heap(monkeypatch, 1)  # 1 byte: nothing fits
    src = _parquet_df(spark, tmp_path)
    derived = src.selectExpr("id * 2 AS v")
    out = truncate_lineage_scaled(derived, source=src)
    assert out is derived  # returned UNCUT — results identical by construction
    assert out.count() == 1000


def test_scaled_cut_serialized_tier_opt_out(spark, tmp_path, monkeypatch):
    # serialized_tier=False lapses over-deser-budget frames to UNCUT
    # (the r13 behavior) — for call sites whose few downstream
    # references are already deduped by runtime exchange reuse (BFS
    # und / random-walk indexed, measured 2x slower serialized at sf10).
    monkeypatch.delenv(CHECKPOINT_DIR_ENV, raising=False)
    src = _parquet_df(spark, tmp_path)
    _heap(monkeypatch, scale.scan_bytes(src))  # serialized tier would fit
    derived = src.selectExpr("id * 2 AS v")
    out = truncate_lineage_scaled(
        derived, source=src, serialized_tier=False
    )
    assert out is derived


def test_scaled_cut_live_cuts_derates_budget(spark, tmp_path, monkeypatch):
    # With the serialized tier opted out, an absurd live-cut count
    # shrinks the per-cut deserialized budget to ~0 → uncut; the
    # default count keeps the file exactly at budget → cut.
    monkeypatch.delenv(CHECKPOINT_DIR_ENV, raising=False)
    src = _parquet_df(spark, tmp_path)
    # deser budget at 3 live cuts = 3 * heap / (64 * 3) = scan bytes
    _heap(monkeypatch, 64 * scale.scan_bytes(src))
    derived = src.selectExpr("id * 2 AS v")
    assert (
        truncate_lineage_scaled(
            derived, source=src, live_cuts=10**9, serialized_tier=False
        )
        is derived
    )
    assert (
        truncate_lineage_scaled(
            derived, source=src, live_cuts=3, serialized_tier=False
        )
        is not derived
    )


def test_parse_mem_accepts_spark_forms_and_degrades():
    assert parse_mem("16g") == 16 * (1 << 30)
    assert parse_mem("512mb") == 512 * (1 << 20)
    assert parse_mem("16GB") == 16 * (1 << 30)
    assert parse_mem("1tb") == 1 << 40
    assert parse_mem("1073741824") == 1 << 30
    assert parse_mem("2.5g") == int(2.5 * (1 << 30))
    assert parse_mem("watermelon") is None
    assert parse_mem("") is None


@pytest.mark.parametrize(
    "master,heap_gb",
    [
        ("local", 2),
        ("local[4]", 2),
        ("local[*]", 2),
        ("local[4,2]", 2),
        ("local-cluster[2,1,1024]", 8),
        ("spark://host:7077", 8),
        ("yarn", 8),
    ],
)
def test_heap_bytes_reads_driver_heap_only_in_process(master, heap_gb):
    # only local / local[...] runs executors inside the driver JVM
    conf = {
        "spark.master": master,
        "spark.driver.memory": "2g",
        "spark.executor.memory": "8g",
    }
    df = SimpleNamespace(
        sparkSession=SimpleNamespace(
            sparkContext=SimpleNamespace(getConf=lambda: conf)
        )
    )
    assert heap_bytes(df) == heap_gb << 30


def test_scaled_cut_unknown_source_fails_safe(spark, monkeypatch):
    # a derived/in-memory source exposes no files: treat as over budget
    monkeypatch.delenv(CHECKPOINT_DIR_ENV, raising=False)
    src = spark.range(10)
    derived = src.selectExpr("id + 1 AS v")
    out = truncate_lineage_scaled(derived, source=src)
    assert out is derived


def test_scaled_cut_reliable_dir_always_cuts(spark, tmp_path, monkeypatch):
    # over-budget locally, but a reliable dir stores blocks on disk,
    # not executor heap — the cluster deployment path always cuts
    _heap(monkeypatch, 1)
    ckpt = str(tmp_path / "reliable")
    monkeypatch.setenv(CHECKPOINT_DIR_ENV, ckpt)
    src = _parquet_df(spark, tmp_path)
    out = truncate_lineage_scaled(
        src.selectExpr("id * 2 AS v"), source=src, eager=True
    )
    assert out.count() == 1000
    assert _n_files(ckpt) > 0, "reliable checkpoint wrote no files"
