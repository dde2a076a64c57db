"""Seeded benchmark inputs, generated with the engine's ``fixtures.py``.

Every input is a pure function of (seed, size). Generation is load
generation: it is never part of a timed region or of ``setup_s``. It runs
in every run, in the measured session, before the set-up: skipping it for
cached inputs would leave the JVM less warm for the timed calls than in a
run that generated them, and two runs of one seed would disagree.

Layout of one table (``table_dir``):

* ``fact/bucket-NN.parquet`` — the corrupted transcripts table, one file per
  ``part_id`` bucket, the way an Iceberg ``bucket(32, conv_id)`` table lays
  its files out. A changed bucket therefore changes exactly one file.
* ``clean/`` — the clean copy of the same turns (the TextEquals reference
  and the drift baseline).
* ``conversations/``, ``tools/`` — the dimension tables.
* ``partmap/`` — ``(conv_id, part_id)`` for every conversation, read by the
  DuckDB oracle to attribute expected violations to partitions.
* ``epochs/epoch-NN.parquet`` — for the stream, in place of ``fact/``: the
  first conversations cut into files of equal turn counts.
"""

from __future__ import annotations

import dataclasses
import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hdfs_anomaly_detection_spark.constraints.runner import part_id_expr
from hdfs_anomaly_detection_spark.fixtures import (
    CORRUPTED,
    FixtureConfig,
    build_fixture,
    clean_transcripts,
)

N_BUCKETS = 32
# marker appended to the texts the resume workload edits (the fixture's own
# markers are " MUTATED" and " [dup]")
EDIT_MARKER = " EDITED"
EDIT_RATE = 0.01
# turns per conversation under table_config: 99% draw 2-12 turns, 1% are hot
# at 200, so the mean is 0.99 * 7 + 0.01 * 200
MEAN_TURNS_PER_CONVERSATION = 8.93
# hot conversations in each stream epoch: the table's ≈ 22% hot turns at
# 3,000 turns an epoch; a fixed count keeps an epoch's cost from following
# how many hot conversations a seed happens to put into it
HOT_PER_EPOCH = 3


def table_config(seed: int, n_conversations: int) -> FixtureConfig:
    """The CORRUPTED injection matrix, including 1% text mutations and 1%
    hot conversations of 200 turns, at the given size and seed."""
    return dataclasses.replace(CORRUPTED, n_conversations=n_conversations, seed=seed)


def _routing_key(spark: SparkSession, target: Column, n: int) -> Column:
    """A long column whose hash partitioning sends row ``target = b`` to
    output partition ``b``: ``repartition(n, key)`` then writes one file per
    target value."""
    pdf = (
        spark.range(64 * n)
        .select("id", F.pmod(F.hash(F.col("id")), F.lit(n)).alias("b"))
        .toPandas()
    )
    first = pdf.groupby("b")["id"].min()
    if len(first) != n:
        raise RuntimeError(f"no routing key found for {n - len(first)} of {n} partitions")
    keys = F.array(*[F.lit(int(first[b])).cast("long") for b in range(n)])
    return F.element_at(keys, target.cast("int") + 1)


def _write_one_file_per(
    df: DataFrame, target: Column, n: int, out: str, name: str, drop: list[str] = ()
) -> None:
    """Write ``df`` as ``out/<name % b>``, one file per value ``b`` of
    ``target`` in [0, n), without the helper columns in ``drop``."""
    spark = df.sparkSession
    tmp = out + ".tmp"
    df.repartition(n, _routing_key(spark, target, n)).drop(*drop).write.parquet(tmp)
    os.makedirs(out)
    for f in sorted(os.listdir(tmp)):
        if f.startswith("part-") and f.endswith(".parquet"):
            os.rename(os.path.join(tmp, f), os.path.join(out, name % int(f[5:10])))
    shutil.rmtree(tmp)


def table_dir(
    spark: SparkSession, work: str, seed: int, turns: int, epochs: tuple[int, int] | None = None
) -> str:
    """A table of about ``turns`` turns for ``seed``, under ``work``. The
    fixture is generated with 25% more conversations than the expected need
    and cut, in conversation order, at the first conversation that crosses
    ``turns``: the number of hot conversations varies with the seed, and a
    fixed turn count keeps it from changing the table size.

    ``epochs = (n, t)`` writes epoch files (see ``_epoch_of``) as
    ``epochs/`` instead of ``fact/``; the table then also holds the epochs'
    conversations, so dims and reference cover them."""
    out = os.path.join(work, "table")
    cfg = table_config(seed, int(turns / MEAN_TURNS_PER_CONVERSATION * 1.25))
    fx = build_fixture(spark, cfg)
    kept = _first_turns(fx.fact, turns, "keep").filter(F.col("keep") == 0).select("conv_id")
    if epochs is not None:
        epoch_of = _epoch_of(fx.fact, *epochs, cfg.hot_turns).persist()
        kept = kept.union(epoch_of.select("conv_id")).distinct()
    kept = kept.persist()
    pid = part_id_expr(n_buckets=N_BUCKETS)
    if epochs is None:
        fact = fx.fact.join(kept, "conv_id")
        _write_one_file_per(fact, pid, N_BUCKETS, f"{out}/fact", "bucket-%02d.parquet")
    else:
        _write_epochs(fx.fact.join(epoch_of, "conv_id"), epochs[0], f"{out}/epochs")
        epoch_of.unpersist()
    fx.conversations.coalesce(1).write.parquet(f"{out}/conversations")
    fx.tools.coalesce(1).write.parquet(f"{out}/tools")
    clean_transcripts(spark, cfg).join(kept, "conv_id").write.parquet(f"{out}/clean")
    kept.select("conv_id", pid.alias("part_id")).coalesce(1).write.parquet(f"{out}/partmap")
    kept.unpersist()
    return out


def _first_turns(fact: DataFrame, turns: int, name: str) -> DataFrame:
    """(conv_id, name): the 0-based block of ``turns`` turns each
    conversation starts in, counting turns in conversation order."""
    seq = F.regexp_extract(F.col("conv_id"), r"(\d+)$", 1).cast("long")
    before = F.sum("n").over(Window.orderBy("seq").rowsBetween(Window.unboundedPreceding, -1))
    return (
        fact.groupBy("conv_id").count().withColumnRenamed("count", "n")
        .withColumn("seq", seq)
        .select("conv_id", F.floor(F.coalesce(before, F.lit(0)) / turns).alias(name))
    )


def _epoch_of(fact: DataFrame, n_epochs: int, turns_per_epoch: int, hot_turns: int) -> DataFrame:
    """(conv_id, epoch) for ``n_epochs`` epochs of about ``turns_per_epoch``
    turns: whole conversations, disjoint across epochs, in conversation
    order. Each epoch takes the next ``HOT_PER_EPOCH`` hot conversations
    (``hot_turns`` turns each) and then the next other conversations up to
    the rest of its turns, so every epoch of every seed holds the same mix;
    a cut by turn count alone gave 1 to 7 hot conversations an epoch, and
    an epoch's CPU moved with that count."""
    seq = F.regexp_extract(F.col("conv_id"), r"(\d+)$", 1).cast("long")
    sizes = (
        fact.groupBy("conv_id").count().withColumnRenamed("count", "n")
        .withColumn("seq", seq).withColumn("hot", F.col("n") >= hot_turns // 2)
    )
    by_kind = Window.partitionBy("hot").orderBy("seq")
    hot_rank = F.row_number().over(by_kind) - 1
    before = F.coalesce(F.sum("n").over(by_kind.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0))
    rest = turns_per_epoch - HOT_PER_EPOCH * hot_turns
    epoch = F.when(F.col("hot"), F.floor(hot_rank / HOT_PER_EPOCH)).otherwise(F.floor(before / rest))
    out = sizes.select("conv_id", "hot", epoch.alias("epoch")).filter(F.col("epoch") < n_epochs)
    n_hot = out.filter("hot").count()
    if n_hot < HOT_PER_EPOCH * n_epochs:
        raise RuntimeError(f"the fixture has {n_hot} hot conversations, "
                           f"{HOT_PER_EPOCH * n_epochs} needed for {n_epochs} epochs")
    return out.drop("hot")


def _write_epochs(fact: DataFrame, n_epochs: int, out: str) -> None:
    """``fact`` (with its ``epoch`` column) as one file per epoch. File
    modification times increase with the epoch number, so a file stream
    with ``maxFilesPerTrigger=1`` reads them in order."""
    _write_one_file_per(fact, F.col("epoch"), n_epochs, out, "epoch-%02d.parquet", drop=["epoch"])
    for i, f in enumerate(sorted(os.listdir(out))):
        t = 1_700_000_000 + 10 * i
        os.utime(os.path.join(out, f), (t, t))


def rewritten_buckets(spark: SparkSession, table: str, seed: int, buckets: list[int]) -> str:
    """Re-ingested copies of ``buckets``: every text is upper-cased and its
    spaces doubled (raw text differs, canonical text is equal), and a seeded
    1% of the turns get ``EDIT_MARKER`` appended (canonical text differs).
    Returns a directory holding ``bucket-NN.parquet`` for each bucket."""
    out = os.path.join(table, "rewrite")
    os.makedirs(out)
    for b in buckets:
        src = spark.read.parquet(f"{table}/fact/bucket-{b:02d}.parquet")
        h = F.xxhash64(F.col("conv_id"), F.col("turn_idx"), F.lit(seed), F.lit("rewrite"))
        edited = F.pmod(h, F.lit(1_000_000)) < int(EDIT_RATE * 1_000_000)
        recased = F.regexp_replace(F.upper(F.col("text")), " ", "  ")
        text = F.when(edited, F.concat(recased, F.lit(EDIT_MARKER))).otherwise(recased)
        tmp = f"{out}/b{b:02d}"
        src.withColumn("text", text).coalesce(1).write.parquet(tmp)
        (part,) = [f for f in os.listdir(tmp) if f.endswith(".parquet")]
        os.rename(f"{tmp}/{part}", f"{out}/bucket-{b:02d}.parquet")
        shutil.rmtree(tmp)
    return out
