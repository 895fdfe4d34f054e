"""Stage I/O — per-stage materialization, the engine's checkpoint/lineage
mechanism.

The reference materializes every pipeline stage to a text file before
the next stage runs, which is what makes its CLI resumable per stage
(/root/reference/image_deduper.cpp:293-359; file formats
samples.cpp:379-425). Here each stage is a parquet directory (Iceberg
would be a drop-in at deployment — the runtime here has no Iceberg jar,
so parquet is the documented fallback) with an atomic ``_SUCCESS``
marker; ``stage_exists`` gates resume.

:func:`checkpoint` is the engine's only in-memory lineage cut and its
only materialization primitive: pipeline stages, connected-components
rounds, merge batches, and the subtrees that several consumers inside
one operator share (the LSH non-singleton band table, the ANN signature
table, the substring chunk table). A pin's blocks live until Spark's
ContextCleaner frees them, once the DataFrame reading them is
garbage-collected; no caller owns a release. :func:`row_count` is the
one-job count that materializes a stage.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType


def stage_path(checkpoint_dir: str, stage: str) -> str:
    return os.path.join(checkpoint_dir, stage)


def stage_exists(checkpoint_dir: str | None, stage: str) -> bool:
    if not checkpoint_dir:
        return False
    return os.path.exists(os.path.join(stage_path(checkpoint_dir, stage), "_SUCCESS"))


def _as_stored(t: DataType) -> DataType:
    """``t`` as Spark's parquet writer stores it: every struct field,
    array element and map value nullable, at any depth."""
    if isinstance(t, StructType):
        return StructType(
            [StructField(f.name, _as_stored(f.dataType), True, f.metadata) for f in t]
        )
    if isinstance(t, ArrayType):
        return ArrayType(_as_stored(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_as_stored(t.keyType), _as_stored(t.valueType), True)
    return t


def write_stage(df: DataFrame, checkpoint_dir: str, stage: str) -> DataFrame:
    """Write ``df`` as the stage's parquet directory and return the stage
    read back. The read-back takes ``df``'s schema as stored, so it skips
    parquet schema inference (a Spark job); :func:`read_stage`, the
    resume path, has no schema in hand and infers it."""
    path = stage_path(checkpoint_dir, stage)
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.schema(_as_stored(df.schema)).parquet(path)


def read_stage(spark: SparkSession, checkpoint_dir: str, stage: str) -> DataFrame:
    return spark.read.parquet(stage_path(checkpoint_dir, stage))


def read_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """Read a web_pages table (parquet dir written by the corpus
    generator or an upstream crawler export)."""
    return spark.read.parquet(path)


def checkpoint(df: DataFrame) -> DataFrame:
    """Cut ``df``'s lineage.

    Reliable eager ``checkpoint()`` when the context has a checkpoint dir
    (``sc.setCheckpointDir``): on a cluster, localCheckpoint blocks are
    lost with their executor. An RDD marked for reliable checkpointing is
    recomputed by the checkpoint writer after its first action, so that
    path stays eager. Otherwise a LAZY ``localCheckpoint``: the shuffle
    stages under it run now, and the caller's next job (a
    :func:`row_count`, or an aggregation over the result) computes the
    final stage and persists its blocks in that same job — one driver
    barrier instead of two.

    The result keeps the origin plan's statistics (Spark offers no public
    way to drop them), so static broadcast choices downstream still see
    a size. A loop that cuts every round therefore carries its estimate
    forward: it must grow the estimate by a bounded factor per round and
    never square it (connected components, ``operators/components.py``).

    Nothing unpersists the result: its blocks are freed by Spark's
    ContextCleaner after the DataFrame is garbage-collected in Python,
    and the cleaner hears of that only at the driver JVM's next GC. On
    an idle driver that can be ``spark.cleaner.periodicGC.interval``
    (30 min by default) away, so a pin may outlive its last reader by
    that long."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=False)


def row_count(df: DataFrame) -> int:
    """Rows of ``df`` in one Spark job: a count over the plan's RDD.
    ``DataFrame.count()`` plans a global aggregation, which under AQE is
    a shuffle-map job plus a result job."""
    return df._jdf.queryExecution().toRdd().count()


def partition_lineage(df: DataFrame, stage: str) -> DataFrame:
    """Per-partition row counts for the lineage record (north_rule:
    per-partition lineage + metrics), for a stage read back from its
    parquet directory: one row per part file, i.e. per writing task,
    ``partition_id`` being the part file's task index. Reading the
    written files (instead of re-running the stage plan) keeps the
    stage's plan to one execution."""
    part = F.regexp_extract(F.input_file_name(), r"/part-(\d+)[^/]*$", 1).cast("int")
    return (
        df.groupBy(part.alias("partition_id"))
        .count()
        .withColumn("stage", F.lit(stage))
    )
