"""Every size-derived choice the engine makes, in one place.

Three inputs drive them: the bytes a query reads (:func:`source_bytes`
for a streaming operator's local micro-batch source, :func:`scan_bytes`
for a DataFrame's file scan, and that scan's file sizes and parquet
row groups for :func:`fan_out_width`), the heap of the JVM that holds
cached blocks (:func:`heap_bytes`), and the session's width (shuffle
partitions, default parallelism).  This is the one module that stats
files, reads parquet footers or parses byte sizes.  Partition counts
derive from input size, never from a constant tuned to one box: a
100 TB input keeps the session's settings, the test corpus gets the
smallest layout.

Each choice is a plain function of those inputs.  None of them changes
results, only layout and execution strategy: stateful logic is per key,
bucketing and a scan fan-out are pure placement, projection mode and
split size are execution detail, and a lineage cut never changes
expressions.  The oracle parity suite asserts that at every width it
produces.

A stateful streaming query's shuffle width is fixed at its first start:
Spark records ``spark.sql.shuffle.partitions`` in the offset log and
restores it from there on restart, whatever the session then says.  So
the width is derived once from the input, not set by a user.  A
deployment whose stream source is remote (Kinesis, a cloud bucket)
cannot stat it with :func:`source_bytes` and passes a width derived
from its own throughput to :func:`shuffle_width`.

:func:`scoped_conf` applies the conf-valued choices for one block and
restores the session afterwards.
"""

from __future__ import annotations

import os
import re
import sys
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

BYTES_PER_PARTITION = 64 << 20
ROWS_PER_PARTITION = 1_000_000
MIN_SPLIT_BYTES = 1 << 20

# Deserialized executor-local cut budget, as a fraction of executor
# heap.  localCheckpoint stores the materialized partitions as
# DESERIALIZED row objects in executor storage memory (MEMORY_AND_DISK
# unrolls in heap first); a frame whose row-object mass approaches the
# heap turns the cut from a planning-dedup win into an allocation storm
# — measured r13 at sf10: graph_triangle_count's three edge-scale cuts
# (~100M+ two-long rows each) hard-OOMed a fresh 16 GiB local[32] JVM,
# while the UNCUT r9 form of the same query ran 224s there (runtime
# exchange reuse already dedups the physical work; the cut only removes
# duplicated planning/broadcast overhead, which AMORTIZES at scale).
# heap/64 with the measured ~6-12x deserialized-object blowup over
# source parquet bytes and up to 3 live cuts per query keeps the
# materialized mass comfortably under half the heap.
CUT_HEAP_FRACTION = 64

# A file scan of at most cores / this many tasks is starved: one cheap
# round-robin shuffle of its narrow input is worth full-width execution.
FAN_OUT_MIN_FACTOR = 2


# --- inputs ----------------------------------------------------------


def source_bytes(src_dir: str) -> int:
    """Total size of the files under a local source directory (0 for a
    missing one)."""
    total = 0
    for root, _dirs, files in os.walk(src_dir):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def heap_bytes(df: DataFrame) -> int:
    """Heap of the JVM that will hold localCheckpoint blocks.

    Under a ``local`` / ``local[...]`` master the executor IS the driver
    JVM, so the budget must come from ``spark.driver.memory`` even when a
    cluster-style conf also sets ``spark.executor.memory`` (r13 ADVICE:
    preferring the executor value unconditionally would size the budget
    from the wrong — typically larger — heap and re-admit the sf10 OOM
    this guard exists to prevent).  ``local-cluster[...]`` launches
    separate executor JVMs and reads ``spark.executor.memory`` like any
    cluster master.  Spark memory strings allow an
    optional trailing 'b' ('512mb', '16gb'); any unparseable value
    degrades to the conservative 1g default instead of raising.
    """
    conf = df.sparkSession.sparkContext.getConf()
    if re.fullmatch(r"local(\[.*\])?", conf.get("spark.master", "")):
        raw = conf.get("spark.driver.memory", None) or "1g"
    else:
        raw = conf.get("spark.executor.memory", None) or conf.get(
            "spark.driver.memory", "1g"
        )
    parsed = parse_mem(raw)
    return parsed if parsed is not None else 1 << 30


def parse_mem(raw: str) -> int | None:
    """Spark memory string → bytes, or None when unparseable.  Accepts
    the JVM forms Spark does: bare bytes ('1073741824'), single-letter
    suffixes ('16g'), and two-letter suffixes ('512mb', '16gb')."""
    m = re.fullmatch(r"([\d.]+)([kmgt]?)b?", raw.strip().lower())
    if m is None:
        return None
    units = {"": 0, "k": 10, "m": 20, "g": 30, "t": 40}
    try:
        return int(float(m.group(1)) * (1 << units[m.group(2)]))
    except ValueError:
        return None


def scan_bytes(source: DataFrame) -> int:
    """Bytes of ``source``'s file scan; 'huge' when unknowable (a
    derived/in-memory source gives no files — treat as over budget so
    the guard fails safe toward NOT materializing).

    Only ``file:`` URIs are resolvable here — on a cluster whose inputs
    live on ``hdfs:``/``s3a:`` the ``os.path`` probe hits OSError and
    every frame reads as 'huge', so executor-local cuts never fire
    there.  That is the intended safe direction; a cluster deployment
    sets ``$SPARK_GRAFT_CHECKPOINT_DIR`` instead (reliable checkpoints
    always cut, blocks on a fault-tolerant FS).  Resolving non-file
    schemes through the Hadoop FileSystem API is possible but adds a
    py4j round-trip per file to a path whose cluster story is the
    checkpoint dir anyway.
    """
    sizes = _local_sizes(source.inputFiles())
    return sum(sizes) if sizes else 1 << 62


def _local_path(uri: str) -> str:
    return uri[len("file:"):] if uri.startswith("file:") else uri


def _local_sizes(uris: list[str]) -> list[int] | None:
    """Local sizes of these URIs, or None if any is not a readable
    local file."""
    try:
        return [os.path.getsize(_local_path(uri)) for uri in uris]
    except OSError:
        return None


def _row_group_count(uris: list[str]) -> int | None:
    """Total parquet row groups across ``uris`` (None for non-parquet
    sources, whose byte-range splits are genuinely row-bearing)."""
    total = 0
    try:
        import pyarrow.parquet as pq

        for uri in uris:
            path = _local_path(uri)
            if not path.endswith(".parquet"):
                return None
            total += pq.ParquetFile(path).metadata.num_row_groups
    except Exception as exc:
        # A footer-read failure disables the row-group cap (the
        # estimate falls back to byte-range splits, which can only
        # OVER-estimate width and suppress the fan-out).  Say so — a
        # silent fallback here is how a single-row-group file regresses
        # to a single-task scan.
        print(f"# fan_out: row-group cap skipped ({exc!r})", file=sys.stderr)
        return None
    return total


# --- choices ---------------------------------------------------------


def shuffle_width(spark: SparkSession, width: int) -> int:
    """``width`` clamped to [1, session shuffle width]."""
    session = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(session, int(width)))


def stream_width(spark: SparkSession, nbytes: int) -> int:
    """Shuffle (and state store) width of a stateful streaming query:
    ceil(source bytes / 64 MB), clamped.

    The session default is sized to the cores, so a kilobyte-scale
    micro-batch would get one state store per core: one store commit
    (and one Python worker in ``applyInPandasWithState``) per partition
    per trigger of pure overhead.  That holds for JVM-stateful
    aggregations and for ``applyInPandasWithState`` over hash buckets,
    whose group count is O(buckets) — the r13 width sweep on
    streaming_dedup_minhash reads 32/16/8/4 -> 5.9/4.2/4.0/3.9 s at
    sf0.1: store commits dominate."""
    return shuffle_width(spark, -(-nbytes // BYTES_PER_PARTITION))


def rows_width(spark: SparkSession, n_rows: int) -> int:
    """ceil(rows / 1M), clamped: the width of a shuffle whose cost is
    per row, not per source byte (the connected-components loop's edge
    mass, the stream-stream join's candidate-pair mass)."""
    return shuffle_width(spark, -(-n_rows // ROWS_PER_PARTITION))


def codegen_mode(spark: SparkSession, nbytes: int) -> str:
    """``spark.sql.codegen.factoryMode`` for a micro-batch drain whose
    aggregation buffer is very wide: NO_CODEGEN below 64 MB of source,
    else the session's mode.

    approx_count_distinct(rsd=0.005) carries a 4,330-word HLL++ buffer,
    i.e. a 4,330-attribute aggregation schema.  Under the default
    FALLBACK mode every projection over that schema REGENERATES its
    Java source per task per trigger — Janino compilation is cached on
    the source string, but building and regex-formatting the megabytes
    of source is not (thread dump: the lone RUNNABLE executor thread
    sits in ``CodeFormatter.stripExtraNewLinesAndComments`` for ~5 s
    per trigger while state-store commits take 40 ms).  Interpreted
    projections skip source generation entirely; for a kilobyte-scale
    micro-batch the per-row interpretation penalty is noise next to
    the fixed codegen cost (measured at sf0.1: drain 27 s -> 11 s).  A
    100 TB firehose batch keeps codegen, whose per-row wins then
    dominate.  Results are bit-identical (the HLL++ update and merge
    are the same imperative algorithm either way)."""
    if nbytes < BYTES_PER_PARTITION:
        return "NO_CODEGEN"
    return spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")


def scan_split(spark: SparkSession, nbytes: int, n_batches: int) -> str:
    """``spark.sql.files.maxPartitionBytes`` so ONE micro-batch's source
    files spread across the session's cores: max(1 MB, bytes /
    n_batches / cores), never above the session value.

    A micro-batch trigger reads only its own few files; with the batch
    mass far below the session's (batch-fleet-sized) 128 MB split, the
    whole trigger bin-packs into one task and the per-row scan-stage
    work runs single-core.  A 100 TB firehose batch keeps the session's
    split size, the test corpus splits per file."""
    prev = parse_mem(spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    cores = max(1, spark.sparkContext.defaultParallelism)
    per = max(MIN_SPLIT_BYTES, -(-nbytes // max(1, n_batches) // cores))
    return str(min(prev, per))


def fan_out_width(df: DataFrame) -> int | None:
    """Repartition width for a parallelism-starved file scan:
    defaultParallelism when the scan runs at most cores /
    ``FAN_OUT_MIN_FACTOR`` tasks, else None (pass the frame through).

    Parquet scans parallelize at row-group granularity; a source laid
    out as few large row groups (the test tables are single-row-group
    files) binds CPU-heavy per-row operators (md5 shingling, vector
    folds) to a handful of tasks.  Already-wide scans — the 100 TB
    case, thousands of row groups — pass through, so a fan-out never
    adds a shuffle where the source is properly laid out.  In-memory
    and non-local sources pass through too: there is no local layout
    to measure.

    The task count reproduces Spark's own split math from file
    metadata instead of probing ``df.rdd`` (which forces a full plan
    conversion): ``maxSplitBytes = min(maxPartitionBytes,
    max(openCostInBytes, totalBytes / defaultParallelism))``, then
    bin-packing where each file costs ``size + openCostInBytes``.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    files = df.inputFiles()
    sizes = _local_sizes(files) if files else None
    if sizes is None:
        return None
    max_bytes = parse_mem(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
    open_cost = parse_mem(spark.conf.get("spark.sql.files.openCostInBytes", "4194304"))
    total = sum(sizes) + open_cost * len(sizes)
    max_split = min(max_bytes, max(open_cost, total // max(1, target)))
    # Packing merges small files into shared tasks, so the task count is
    # the packed bin count — NOT one task per file (a per-file estimate
    # over-counts on many-tiny-file layouts and would suppress the
    # fan-out exactly when the scan is most starved).
    tasks = max(1, -(-total // max_split))
    # Byte-range splits are an UPPER BOUND on useful width: a parquet
    # row group belongs entirely to the split containing its start, so
    # a file with fewer row groups than splits yields row-carrying
    # tasks only for those row groups — the rest scan footer bytes and
    # emit nothing.  Found at sf10: a 51 MB single-row-group embeddings
    # file estimated 13 splits (above the fan-out threshold, so no
    # repartition) but executed as ONE row-bearing task — brute-force
    # cosine ran single-threaded, 75s instead of 8s.  Every parquet file
    # holds >=1 row group, so on a listing wider than the cluster the
    # cap cannot pull the count below the threshold, and reading
    # thousands of footers driver-side would be pure cost: footers are
    # read only for listings of at most ``target`` files.
    if len(files) <= target:
        row_groups = _row_group_count(files)
        if row_groups is not None:
            tasks = min(tasks, max(1, row_groups))
    return target if tasks * FAN_OUT_MIN_FACTOR <= target else None


def srp_index_buckets(spark: SparkSession) -> int:
    """Storage-bucket count for the persisted SRP index: the session's
    defaultParallelism, floored at 8.  The bucketed candidate SMJ runs
    one task per storage bucket, so a constant 8 capped the whole kNN
    family at 8-way parallelism on a 32-core session; the layout tracks
    the compute width it feeds."""
    return max(8, spark.sparkContext.defaultParallelism)


def band_state_buckets(spark: SparkSession) -> int:
    """State-grouping bucket count for streaming band dedup: 4x the
    session's default parallelism — enough groups to spread over every
    core with a small per-task multiplicity."""
    return 4 * spark.sparkContext.defaultParallelism


def cut_tier(df: DataFrame, source: DataFrame, live_cuts: int) -> str | None:
    """Storage tier of an executor-local lineage cut of ``df``, from
    ``source``'s scan bytes against the heap: ``"deserialized"`` under
    3·heap / (64·live_cuts), ``"serialized"`` up to the heap, otherwise
    None (leave the frame uncut).

    ``live_cuts`` is the number of concurrently-live cuts in the calling
    query (r13 ADVICE: k-core holds 4 live edge-scale cuts, BFS up to 8
    node-scale ones, so a flat divisor overshot the margin).  Serialized
    row blocks are ~1-2x the source parquet bytes (vs the 6-12x
    deserialized-object blowup), unroll through compact byte buffers and
    evict to local disk under pressure, so frames too big for a
    deserialized cut can still be cut without the sf10 heap OOM; what
    must fit transiently is one partition's buffer.  Above the heap — or
    when the scan mass is unknowable — a 100 TB input must not be copied
    onto executor-local disks as a side effect of planning hygiene."""
    heap = heap_bytes(df)
    scan = scan_bytes(source)
    if scan <= heap * 3 // (CUT_HEAP_FRACTION * max(1, live_cuts)):
        return "deserialized"
    if scan <= heap:
        return "serialized"
    return None


@contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, object]) -> Iterator[None]:
    """Set every ``confs`` entry for the block, then restore each
    previous value on exit, exceptions included; a key that had no
    value before is unset again."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, str(v))
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
