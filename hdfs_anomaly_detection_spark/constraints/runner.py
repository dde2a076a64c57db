"""Validation runner: plans all checks into as few passes as possible and
emits (violations DF, per-partition verdicts DF).

Plan shape (scale rationale):

* Partition identity is a DATA attribute — ``part_id =
  pmod(xxhash64(conv_id), n_buckets)`` — never a physical split, so
  verdicts are stable across cluster sizes / file layouts (SURVEY §7.4
  risk 1). All rows of a conversation land in one part_id.
* All row-level predicates + referential joins + window flags are folded
  into ONE flagged scan; violation rows come from exploding a compacted
  struct array (rows with no failures are dropped by ``explode`` for
  free). No per-check scans.
* The narrow flagged frame is hash-repartitioned once on the cluster key
  (conv_id); the reference-equality SMJ, dim joins and ordering windows
  all ride that single exchange (subset co-partitioning). The frame
  carries every column a check reads (unique keys, freshness ts, drift
  metrics) and is persisted, so the fact table is scanned exactly once
  per run and the narrow frame (~50 B/row) feeds every output.
* Uniqueness is a plain per-key count over the narrow frame: Spark's
  partial aggregation combines each map partition, so a hot key reaches
  the final aggregate as at most one row per mapper; when the key holds
  the cluster key the count is partition-local (no extra exchange).
* Verdicts = one ``groupBy(part_id)`` over the narrow frame (row count,
  ``count_if(flag)`` per check, ``max(ts)`` per freshness check) plus,
  per Unique check, a per-partition roll-up of the same per-key counts
  that yield its violation rows. Nothing driver-side is proportional to
  row count.

The per-row verdict record mirrors the reference's ``AnomalyResult``
(``anomaly-detection-service/anomaly_detection_service.py:58-68``); the
per-partition pass/fail mirrors its OK/WARNING/CRITICAL CASE thresholds
(``grafana/grafana_test_queries.sql:34-52``).
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from functools import reduce

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hdfs_anomaly_detection_spark.constraints import dsl
from hdfs_anomaly_detection_spark.constraints.dsl import (
    Check,
    Drift,
    Freshness,
    MonotonicOrder,
    RefIntegrity,
    SchemaConformance,
    TextEquals,
    Unique,
)
from hdfs_anomaly_detection_spark.functions.text import canonicalize

VIOLATIONS_SCHEMA = (
    "part_id int, check_id string, conv_id string, turn_idx int, column string, detail string"
)
VERDICTS_SCHEMA = (
    "part_id int, check_id string, n_rows bigint, n_violations bigint, "
    "statistic double, passed boolean"
)


def part_id_expr(conv_col: str = "conv_id", n_buckets: int = 32) -> F.Column:
    return F.pmod(F.xxhash64(F.col(conv_col)), F.lit(n_buckets)).cast("int")


def _count_verdict(chk: Check, n_rows: F.Column, n_violations: F.Column) -> F.Column:
    """A count check's VERDICTS_SCHEMA fields (less part_id) as a struct:
    passes if violations/rows ≤ ``max_violation_rate``."""
    return F.struct(
        F.lit(chk.name).alias("check_id"),
        n_rows.cast("bigint").alias("n_rows"),
        n_violations.cast("bigint").alias("n_violations"),
        F.lit(None).cast("double").alias("statistic"),
        (n_violations <= F.lit(float(chk.max_violation_rate)) * n_rows).alias("passed"),
    )


def reference_hashes(ref_df: DataFrame, chk) -> DataFrame:
    """Precompute the reference side of a TextEquals check as
    (keys..., canon_hash). The reference corpus is static across runs —
    canonicalizing it once and persisting the hashes halves the regex
    work of every validation run (pass the result as
    ``ValidationRunner(reference=...)``)."""
    src = F.col(chk.column)
    h = canonicalize(src) if chk.canonicalize else src
    return ref_df.select(
        *chk.keys, F.when(src.isNotNull(), F.xxhash64(h)).alias("canon_hash")
    )


@dataclass(frozen=True)
class FlaggedPlan:
    """Everything ``ValidationRunner._flagged`` plans, returned rather
    than left on the runner (one runner may serve a foreachBatch handler
    and a batch job at once)."""

    frame: DataFrame  # the narrow flagged frame
    flags: list[tuple[Check, str]]  # (check, boolean flag column)
    drift_cols: dict[str, str]  # drift metric → its value column


@dataclass
class ValidationResult:
    violations: DataFrame  # VIOLATIONS_SCHEMA
    verdicts: DataFrame  # VERDICTS_SCHEMA
    # the narrow flagged frame the runner persisted; callers should
    # ``unpersist()`` once both outputs are materialized so long-lived
    # sessions don't accumulate cache
    cached: DataFrame | None = None

    def unpersist(self) -> None:
        if self.cached is not None:
            self.cached.unpersist()
            self.cached = None


class ValidationRunner:
    def __init__(
        self,
        checks: list[Check],
        n_buckets: int = 32,
        dims: dict[str, DataFrame] | None = None,
        reference: DataFrame | None = None,
        baselines: dict[str, list] | None = None,
        part_col: str | None = None,
        cluster_key: str | None = "conv_id",
        carry_cols: tuple[str, ...] = (),
        pre_clustered: bool = False,
    ) -> None:
        """``part_col``: use an existing int column as the partition id
        (e.g. an Iceberg partition column) instead of the default
        ``pmod(xxhash64(conv_id), n_buckets)``. Must be functionally
        dependent on conv_id so verdicts stay conversation-aligned.

        ``cluster_key``: when set (default ``conv_id``), the narrow frame
        is hash-repartitioned ONCE on this column and every downstream
        operator — the reference-equality join on (conv_id, turn_idx),
        the conversations-dim join on conv_id, and the ordering windows —
        rides that single exchange (subset co-partitioning via
        ``spark.sql.requireAllClusterKeysForCoPartition=false``; the
        window even reuses the SMJ sort because conv_id,turn_idx ordering
        is a superset of the window's requirement). Measured at 9M rows
        this removes one full-frame exchange + one sort vs the naive
        plan. Set to None to let Catalyst plan each exchange
        independently.

        ``pre_clustered``: the input table is ALREADY hash-distributed
        by ``cluster_key`` — a bucketed table (``sources/bucketed``,
        read via ``spark.table`` so the bucket spec survives) or an
        Iceberg ``bucket(N, conv_id)`` layout. The runner then skips
        its own repartition and the scan's bucket partitioning carries
        the whole plan: at 10^12 turns this moves the engine's one
        remaining full-frame exchange (~50 B/row × rows per run) into
        storage, amortized across every subsequent validation of the
        same table. Safe degradation: if the input is NOT actually
        bucketed, EnsureRequirements simply re-inserts the exchanges —
        same results, the old cost."""
        self.checks = checks
        self.n_buckets = n_buckets
        self.dims = dims or {}
        self.reference = reference
        self.baselines = baselines or {}
        self.part_col = part_col
        self.cluster_key = cluster_key
        # payload columns a caller needs carried through the narrow frame
        # (e.g. the streaming watermark needs ts); every extra column
        # multiplies across all downstream exchanges, so opt-in only
        self.carry_cols = tuple(carry_cols)
        self.pre_clustered = pre_clustered

    def pid_expr(self) -> F.Column:
        if self.part_col:
            return F.col(self.part_col).cast("int")
        return part_id_expr(n_buckets=self.n_buckets)

    # ------------------------------------------------------------------ plan

    def _flagged(self, fact: DataFrame) -> FlaggedPlan:
        """Two-stage flagging plan, shuffle-volume-aware:

        Stage A (map-only, pre-shuffle): evaluate every row-level
        predicate against the full row and materialize (flag, sparse
        detail string) pairs, plus the canonical-text HASH for text
        equality — then PROJECT to a narrow frame (keys, ts, fk columns,
        flags, details). Wide payload columns (text) never enter a
        shuffle: at 10^12 turns the window/join exchanges move ~50 B/row
        instead of the full transcript text.

        Stage B: referential joins + ordering windows over the narrow
        frame only.

        Precomputed detail columns ride along as ``<flag_col>_d``. Pure:
        the runner itself is left untouched.
        """
        row_checks = dsl.row_level(self.checks)
        ri_checks = dsl.of_type(self.checks, RefIntegrity)
        mono_checks = dsl.of_type(self.checks, MonotonicOrder)
        te_checks = dsl.of_type(self.checks, TextEquals) if self.reference is not None else []
        drift_checks = dsl.of_type(self.checks, Drift)

        fact_cols = set(fact.columns)
        extra: set[str] = set()
        for chk in mono_checks:
            extra |= set(chk.partition_cols) | set(chk.tiebreak) | {chk.order_col}
        for chk in ri_checks:
            extra |= set(chk.fk)
        for chk in te_checks:
            extra |= set(chk.keys)
        for chk in dsl.of_type(self.checks, Unique):
            extra |= set(chk.columns)
        for chk in dsl.of_type(self.checks, Freshness):
            extra.add(chk.ts_col)
        # NOTE: ts (or any other payload column) enters the narrow frame
        # only if a check references it or the caller asked via carry_cols
        # — every surplus 8B/row column multiplies across all downstream
        # exchanges
        extra |= set(self.carry_cols)
        # the cluster key must exist IN THE NARROW FRAME (the repartition
        # below runs on it) even when no check references it
        if self.cluster_key is not None:
            extra |= {self.cluster_key} & fact_cols
        extra -= {"conv_id", "turn_idx"}

        select_cols = [
            self.pid_expr().alias("part_id"),
            F.col("conv_id"),
            F.col("turn_idx"),
            *[F.col(c) for c in sorted(extra & fact_cols)],
        ]
        flags: list[tuple[Check, str]] = []
        for i, chk in enumerate(row_checks):
            col = f"__v{i}"
            pred = F.coalesce(chk.violation_expr(), F.lit(False))
            select_cols.append(pred.alias(col))
            select_cols.append(F.when(pred, chk.detail_expr()).alias(f"{col}_d"))
            flags.append((chk, col))
        for t, chk in enumerate(te_checks):
            src = F.col(chk.column)
            lhs = canonicalize(src) if chk.canonicalize else src
            select_cols.append(
                F.when(src.isNotNull(), F.xxhash64(lhs)).alias(f"__te{t}_h")
            )
        # drift metrics ride the narrow frame as one pre-computed double
        # per metric (e.g. length(text) — 8 B/row instead of a second full
        # scan of the wide fact table later); 'turn_count' needs no column
        # at all (it aggregates the keys already present)
        drift_cols: dict[str, str] = {}
        for chk in drift_checks:
            if chk.metric == "turn_count" or chk.metric in drift_cols:
                continue
            src = F.length("text") if chk.metric == "text_length" else F.col(chk.metric)
            drift_cols[chk.metric] = f"__dm{len(drift_cols)}"
            select_cols.append(src.cast("double").alias(drift_cols[chk.metric]))
        df = fact.select(*select_cols)  # ← the narrow frame

        # single-exchange clustering: everything below (reference join,
        # dim joins on the cluster key, ordering windows, ref-side dedup)
        # rides ONE hash(cluster_key) repartition; subset co-partitioning
        # lets the (conv_id, turn_idx) SMJ reuse it
        # NOTE: subset co-partitioning relies on
        # spark.sql.requireAllClusterKeysForCoPartition=false, set ONCE in
        # session.get_spark (not here — mutating session conf mid-plan
        # would leak into unrelated queries on a shared session)
        n_shuffle = int(fact.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        clustered = bool(
            self.cluster_key is not None
            and self.cluster_key in fact.columns
            and (mono_checks or te_checks or ri_checks)
        )
        if clustered and not self.pre_clustered:
            df = df.repartition(n_shuffle, self.cluster_key)

        for t, chk in enumerate(te_checks):
            # compare canonical-text xxhash64 (computed pre-shuffle on both
            # sides) instead of shuffling megabyte text payloads; a hash
            # collision masking a true mismatch has probability ~2^-64
            col = f"__t{t}"
            ref_hash = f"__ref{t}_h"
            if "canon_hash" in self.reference.columns and chk.column not in self.reference.columns:
                # reference side pre-hashed once via reference_hashes()
                ref = self.reference.select(
                    *[F.col(k).alias(f"__ref{t}_{k}") for k in chk.keys],
                    F.col("canon_hash").alias(ref_hash),
                )
            else:
                src = F.col(chk.column)
                rhs = canonicalize(src) if chk.canonicalize else src
                ref = self.reference.select(
                    *[F.col(k).alias(f"__ref{t}_{k}") for k in chk.keys],
                    F.when(src.isNotNull(), F.xxhash64(rhs)).alias(ref_hash),
                )
            if clustered and self.cluster_key in chk.keys:
                # co-partition the reference on the same key so BOTH the
                # dedup below and the equality join stay exchange-free
                ref = ref.repartition(n_shuffle, f"__ref{t}_{self.cluster_key}")
            ref = ref.dropDuplicates([f"__ref{t}_{k}" for k in chk.keys])
            # plain equality, not eqNullSafe: NULL keys never match a
            # reference row either way (left join ⇒ ref_hash null ⇒ no
            # flag), and <=> keys get coalesce-wrapped by the planner,
            # which breaks hash-partitioning reuse and forces the SMJ +
            # downstream window to re-exchange the whole frame
            cond = None
            for k in chk.keys:
                c = df[k] == ref[f"__ref{t}_{k}"]
                cond = c if cond is None else cond & c
            df = df.join(ref, cond, "left")
            df = df.withColumn(
                col,
                F.col(ref_hash).isNotNull()
                & F.col(f"__te{t}_h").isNotNull()
                & (F.col(f"__te{t}_h") != F.col(ref_hash)),
            ).drop(*[f"__ref{t}_{k}" for k in chk.keys], ref_hash)
            flags.append((chk, col))

        for j, chk in enumerate(ri_checks):
            col = f"__r{j}"
            dim = self.dims[chk.dim]
            pk = chk.pk or chk.fk
            sel = dim.select(
                *[F.col(p).alias(f"__pk{j}_{k}") for k, p in enumerate(pk)]
            )
            if chk.broadcast:
                sel = F.broadcast(sel.dropDuplicates())
            elif clustered and chk.fk == (self.cluster_key,):
                # dim shuffles once on the cluster key; the fact side is
                # already there, so this SMJ adds no fact-side exchange
                # (and its conv_id sort is a prefix of the TE-join sort)
                sel = sel.repartition(n_shuffle, f"__pk{j}_0").dropDuplicates()
            else:
                sel = sel.dropDuplicates()
            # SQL FK semantics: a NULL pk never matches (null dim rows are
            # dropped); plain equality keeps hash-partitioning reusable
            # (eqNullSafe keys get coalesce-wrapped ⇒ forced re-exchange)
            sel = sel.na.drop(subset=[f"__pk{j}_0"])
            cond = None
            for k, fk_col in enumerate(chk.fk):
                c = df[fk_col] == sel[f"__pk{j}_{k}"]
                cond = c if cond is None else cond & c
            df = df.join(sel, cond, "left")
            dangling = F.col(f"__pk{j}_0").isNull()
            if chk.ignore_null:
                notnull = None
                for fk_col in chk.fk:
                    nn = F.col(fk_col).isNotNull()
                    notnull = nn if notnull is None else notnull & nn
                dangling = notnull & dangling
            df = df.withColumn(col, dangling).drop(
                *[f"__pk{j}_{k}" for k in range(len(pk))]
            )
            flags.append((chk, col))

        for m, chk in enumerate(mono_checks):
            col = f"__w{m}"
            w = Window.partitionBy(*chk.partition_cols).orderBy(
                chk.order_col, *chk.tiebreak
            )
            cur = F.col(chk.order_col)
            prev = F.lag(chk.order_col).over(w)
            if chk.contiguous:
                step_bad = cur != prev + 1
            else:
                step_bad = cur <= prev
            first_bad = (
                (cur != F.lit(chk.start)) if chk.start is not None else F.lit(False)
            )
            df = df.withColumn(
                col, F.when(prev.isNull(), first_bad).otherwise(step_bad)
            ).withColumn(f"{col}_prev", prev)
            flags.append((chk, col))

        return FlaggedPlan(df, flags, drift_cols)

    def _detail(self, chk: Check, flag_col: str) -> F.Column:
        if isinstance(chk, RefIntegrity):
            return F.format_string(
                f"dangling fk ({','.join(chk.fk)})=%s vs dim {chk.dim}",
                F.concat_ws(",", *[F.coalesce(F.col(c).cast("string"), F.lit("NULL")) for c in chk.fk]),
            )
        if isinstance(chk, MonotonicOrder):
            return F.format_string(
                "order violation prev=%s cur=%s",
                F.coalesce(F.col(f"{flag_col}_prev").cast("string"), F.lit("START")),
                F.col(chk.order_col).cast("string"),
            )
        if isinstance(chk, TextEquals):
            return F.lit("canonical text differs from reference")
        # row-level checks: detail was materialized pre-shuffle (sparse)
        return F.coalesce(F.col(f"{flag_col}_d"), F.lit(""))

    def _column_of(self, chk: Check) -> str:
        if isinstance(chk, RefIntegrity):
            return ",".join(chk.fk)
        if isinstance(chk, MonotonicOrder):
            return chk.order_col
        if isinstance(chk, TextEquals):
            return chk.column
        return chk.column_name()

    def _row_violations(
        self,
        flagged: DataFrame,
        flags: list[tuple[Check, str]],
        carry: tuple[str, ...] = (),
    ) -> DataFrame:
        """One VIOLATIONS_SCHEMA row per raised flag; ``carry`` columns
        (e.g. the streaming watermark's ``ts``) ride between ``turn_idx``
        and ``column``."""
        if not flags:
            return flagged.sparkSession.createDataFrame([], VIOLATIONS_SCHEMA)
        structs = [
            F.when(
                F.col(col),
                F.struct(
                    F.lit(chk.name).alias("check_id"),
                    F.lit(self._column_of(chk)).alias("column"),
                    self._detail(chk, col).alias("detail"),
                ),
            )
            for chk, col in flags
        ]
        return (
            flagged.select(
                "part_id",
                "conv_id",
                "turn_idx",
                *carry,
                F.explode(F.array_compact(F.array(*structs))).alias("v"),
            )
            .select(
                "part_id",
                F.col("v.check_id").alias("check_id"),
                "conv_id",
                "turn_idx",
                *carry,
                F.col("v.column").alias("column"),
                F.col("v.detail").alias("detail"),
            )
        )

    def _partition_verdicts(
        self, frame: DataFrame, flags: list[tuple[Check, str]]
    ) -> DataFrame:
        """Count and freshness verdicts from ONE ``groupBy(part_id)`` over
        the narrow frame — the row count, ``count_if(flag)`` per check and
        the max-ts lag per Freshness check — unstacked into
        VERDICTS_SCHEMA rows. Unique, Drift and SchemaConformance verdicts
        are planned elsewhere."""
        flag_of = {id(chk): col for chk, col in flags}
        aggs = [F.count(F.lit(1)).alias("n_rows")]
        rows = []
        for i, chk in enumerate(self.checks):
            col = f"__a{i}"
            if isinstance(chk, Freshness):
                as_of = chk.as_of if chk.as_of is not None else int(time.time())
                lag = F.lit(as_of) - F.unix_timestamp(F.max(F.col(chk.ts_col)))
                aggs.append(lag.cast("double").alias(col))
                rows.append(
                    F.struct(
                        F.lit(chk.name).alias("check_id"),
                        F.lit(None).cast("bigint").alias("n_rows"),
                        F.lit(0).cast("bigint").alias("n_violations"),
                        F.col(col).alias("statistic"),
                        (F.col(col) <= chk.max_age_seconds).alias("passed"),
                    )
                )
            elif not isinstance(chk, (Drift, SchemaConformance, Unique)):
                # a TextEquals check without a reference plans no flag
                n_violations = F.lit(0)
                if id(chk) in flag_of:
                    aggs.append(F.count_if(F.col(flag_of[id(chk)])).alias(col))
                    n_violations = F.col(col)
                rows.append(_count_verdict(chk, F.col("n_rows"), n_violations))
        if not rows:
            return frame.sparkSession.createDataFrame([], VERDICTS_SCHEMA)
        return frame.groupBy("part_id").agg(*aggs).select(
            "part_id", F.inline(F.array(*rows))
        )

    @staticmethod
    def _unique(frame: DataFrame, chk: Unique) -> tuple[DataFrame, DataFrame]:
        """(violation rows, per-partition verdicts) of one Unique check,
        both from the same per-key count over the narrow frame. When the
        frame is hash-partitioned on the cluster key and the key contains
        it, the count is partition-local: no extra exchange."""
        key = list(chk.columns)
        totals = frame.groupBy("part_id", *key).agg(F.count(F.lit(1)).alias("__n"))
        dupes = totals.filter(F.col("__n") > 1).select(
            "part_id",
            F.lit(chk.name).alias("check_id"),
            (F.col("conv_id") if "conv_id" in key else F.lit(None)).cast("string").alias("conv_id"),
            (F.col("turn_idx") if "turn_idx" in key else F.lit(None)).cast("int").alias("turn_idx"),
            F.lit(",".join(key)).alias("column"),
            F.format_string("duplicate key count=%s", F.col("__n").cast("string")).alias("detail"),
        )
        verdicts = (
            totals.groupBy("part_id")
            .agg(
                F.sum("__n").alias("n_rows"),
                F.count_if(F.col("__n") > 1).alias("n_violations"),
            )
            .select(
                "part_id",
                F.inline(
                    F.array(_count_verdict(chk, F.col("n_rows"), F.col("n_violations")))
                ),
            )
        )
        return dupes, verdicts

    @staticmethod
    def _metric_frame(plan: FlaggedPlan, frame: DataFrame, metric: str) -> DataFrame:
        """(part_id, value) drift input, read from the persisted narrow
        frame (the metric was pre-computed map-side as one double column;
        'turn_count' aggregates the keys already present)."""
        if metric == "turn_count":
            return (
                frame.groupBy("part_id", "conv_id")
                .agg(F.count(F.lit(1)).cast("double").alias("value"))
                .select("part_id", "value")
            )
        return frame.select(
            "part_id", F.col(plan.drift_cols[metric]).alias("value")
        ).filter(F.col("value").isNotNull())

    # ------------------------------------------------------------------ run

    def run(self, fact: DataFrame) -> ValidationResult:
        """Plan the flagged scan, persist its narrow frame
        (MEMORY_AND_DISK; ~50 B/row) and derive every output from it:
        row violations (explode), uniqueness (per-key counts), the
        per-partition count/freshness aggregate and drift digests. The
        fact table is scanned exactly once per run.

        The persisted frame is returned as ``result.cached`` — call
        ``result.unpersist()`` once both outputs are materialized."""
        spark = fact.sparkSession
        plan = self._flagged(fact)
        frame = plan.frame.persist(StorageLevel.MEMORY_AND_DISK)
        violations = [self._row_violations(frame, plan.flags)]
        verdicts = [self._partition_verdicts(frame, plan.flags)]
        for chk in dsl.of_type(self.checks, Unique):
            dupes, counts = self._unique(frame, chk)
            violations.append(dupes)
            verdicts.append(counts)

        # dataset-level schema conformance: global -1 partition verdict
        for chk in dsl.of_type(self.checks, SchemaConformance):
            diffs = self._schema_diffs(spark, fact, chk)
            if diffs:
                violations.append(
                    spark.createDataFrame(
                        [(-1, chk.name, None, None, c, d) for c, d in diffs],
                        VIOLATIONS_SCHEMA,
                    )
                )
            verdicts.append(
                spark.createDataFrame(
                    [(-1, chk.name, 0, len(diffs), None, len(diffs) == 0)],
                    VERDICTS_SCHEMA,
                )
            )

        drift_checks = dsl.of_type(self.checks, Drift)
        if drift_checks and self.baselines:
            from hdfs_anomaly_detection_spark.sketch.drift import drift_verdicts

            metric_frames = {
                chk.metric: self._metric_frame(plan, frame, chk.metric)
                for chk in drift_checks
            }
            verdicts.append(drift_verdicts(metric_frames, drift_checks, self.baselines))

        return ValidationResult(
            violations=reduce(DataFrame.unionByName, violations),
            verdicts=reduce(DataFrame.unionByName, verdicts),
            cached=frame,
        )

    @staticmethod
    def _schema_diffs(
        spark: SparkSession, fact: DataFrame, chk: SchemaConformance
    ) -> list[tuple[str, str]]:
        """(column, detail) discrepancies vs the expected DDL schema."""
        from pyspark.sql.types import StructType

        expected = {
            f.name: f.dataType.simpleString()
            for f in StructType.fromDDL(chk.expected_ddl).fields
        }
        actual = {f.name: f.dataType.simpleString() for f in fact.schema.fields}
        diffs: list[tuple[str, str]] = []
        for name, dt in expected.items():
            if name not in actual:
                diffs.append((name, f"missing column (expected {dt})"))
            elif actual[name] != dt:
                diffs.append((name, f"type mismatch: expected {dt}, got {actual[name]}"))
        if not chk.allow_extra:
            for name in actual:
                if name not in expected:
                    diffs.append((name, f"unexpected column ({actual[name]})"))
        return diffs
