"""Streaming PSI drift monitor: an incrementally maintained histogram
compared against a frozen reference.

The batch operator (operators/drift.py:psi_drift — hash-pinned through
the `profile_psi_drift_multi` oracle row, whose per-column slices are
pytest-pinned equal to it) answers "did snapshot B shift from snapshot A" in
two scans; a LANDING ZONE wants the running answer as data arrives —
"has this week's ingest drifted from the blessed reference yet?" —
without rescanning history.  Bucket counts are trivially mergeable
(two histograms over disjoint data add bucket-wise), so the persistent
state is just the ≤ n_buckets cumulative rows of the actual side plus
the frozen reference histogram.

Replay discipline (the CMS/HDR sibling rule): count addition is
NON-idempotent, so the stream's batch_id is written into the actual
rows and a replayed micro-batch (crash between the fold merge and the
stream's offset commit) is detected by its watermark and skipped, never
double-counted.

The report goes through operators/drift.py:psi_from_counts — the SAME
|buckets|-row arithmetic the oracled batch operator ends with — and the
invariant pinned in tests: after ANY batch split, the monitor's report
EQUALS psi_drift(reference, concat(batches)).

Scale shape: per batch, one map-side-combined hash aggregate (the
shuffle carries ≤ n_buckets rows per input partition) plus a merge of a
≤ n_buckets-row frame; state is ≤ 2 × n_buckets rows forever.

Three monitors share this design: ``StreamingPsiMonitor`` (one
column, caller-fixed bucket width), ``StreamingDriftMonitor`` (r13 —
N columns for ONE melt+aggregate per batch, reference-derived grid
frozen in the sidecar, per-column PSI/KS/JS report; state ≤
2 × n_buckets × |columns| rows) and ``StreamingCategoricalMonitor``
(r13 — category shares under the frozen top-k universe, join-free
``isin`` relabeling per batch, PSI + chi-square report; state ≤
2 × (top_k + 1) rows).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cumulus_etl_spark.operators.drift import bucketize, psi_from_counts
from cumulus_etl_spark.sources import hadoop_io
from cumulus_etl_spark.sinks import ManagedTable, MergePolicy

HIST_TABLE = "psi_hist"
_CONFIG_FILE = "_psi_config.json"


class StreamingPsiMonitor:
    """Persistent drift monitor under ``root``: a frozen reference
    histogram plus cumulative actual-side bucket counts.

    The config sidecar goes through the Hadoop FileSystem API
    (sources/hadoop_io.py) like the ANN index's centroid state; the
    histogram table itself is a ManagedTable, whose versioned-parquet
    backend is POSIX-local by design (hardlinks) — so the monitor root
    follows the lake's locality, with the sidecar never the blocker."""

    def __init__(self, spark: SparkSession, root: str,
                 value_col: str | None = None,
                 bucket_width: float | None = None,
                 n_buckets: int | None = None):
        # Reopen convenience (r12 advice): an ESTABLISHED monitor
        # already persists its binning in the config sidecar, so the
        # caller may omit any of value_col/bucket_width/n_buckets and
        # inherit the stored values — the documented "pass None once
        # the baseline exists" call shape.  A NEW monitor must state
        # all three; omitting them there is a loud error, not a
        # guessed default.
        cfg_path = os.path.join(root, _CONFIG_FILE)
        if value_col is None or bucket_width is None or n_buckets is None:
            if not hadoop_io.exists(spark, cfg_path):
                missing = [
                    n for n, v in (("value_col", value_col),
                                   ("bucket_width", bucket_width),
                                   ("n_buckets", n_buckets))
                    if v is None
                ]
                raise ValueError(
                    f"new monitor root {root!r} has no config sidecar: "
                    f"{missing} must be given explicitly on first open"
                )
            stored = json.loads(hadoop_io.read_text(spark, cfg_path))
            value_col = stored["value_col"] if value_col is None else value_col
            bucket_width = (
                stored["bucket_width"] if bucket_width is None else bucket_width
            )
            n_buckets = stored["n_buckets"] if n_buckets is None else n_buckets
        if bucket_width <= 0:
            raise ValueError(f"bucket_width must be > 0, got {bucket_width}")
        if n_buckets < 2:
            raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
        self.spark = spark
        self.root = root
        self.value_col = value_col
        self.bucket_width = float(bucket_width)
        self.n_buckets = int(n_buckets)
        assert value_col is not None  # narrowed above
        self.table = ManagedTable(spark, root, HIST_TABLE)
        self._policy = MergePolicy(
            keys=("side", "bucket"),
            group_field="side",
            last_updated_field=None,
            num_buckets=1,
        )
        cfg = {
            "value_col": value_col,
            "bucket_width": self.bucket_width,
            "n_buckets": self.n_buckets,
            # binning-semantics version: the histogram state is only
            # mergeable with batches binned the SAME way, so the
            # convention itself is part of the monitor's identity.
            # "clamp-low-v2" = below-range values clamp into bucket 0
            # (operators/drift.py:bucketize, r12); a monitor created
            # under the earlier unclamped convention mismatches here
            # and is rejected loudly instead of silently mixing bins.
            "binning": "clamp-low-v2",
        }
        if hadoop_io.exists(spark, cfg_path):
            stored = json.loads(hadoop_io.read_text(spark, cfg_path))
            if stored != cfg:
                raise ValueError(
                    f"monitor root {root!r} was created with {stored}; "
                    f"reopened with {cfg} — mismatched binning would "
                    "corrupt the cumulative histogram"
                )
        else:
            hadoop_io.write_text(spark, cfg_path, json.dumps(cfg))

    # ---- histogram plumbing ------------------------------------------------

    def _hist(self, rows: DataFrame) -> DataFrame:
        bucket = bucketize(self.value_col, self.bucket_width, self.n_buckets)
        return (
            rows.filter(F.col(self.value_col).isNotNull())  # drift null policy
            .groupBy(bucket.alias("bucket"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        )

    def _side(self, side: str) -> DataFrame | None:
        state = self.table.read()
        if state is None:
            return None
        got = state.filter(F.col("side") == side).select("bucket", "n", "last_batch")
        return got

    # ---- reference ---------------------------------------------------------

    def set_reference(self, reference: DataFrame) -> None:
        """Freeze the reference histogram (one scan).  Re-pointing the
        monitor at a new reference is an explicit re-baseline: the whole
        'expected' group is replaced atomically; the cumulative actual
        side is untouched."""
        hist = (
            self._hist(reference)
            .withColumn("side", F.lit("expected"))
            .withColumn("last_batch", F.lit(-1).cast("bigint"))
            .localCheckpoint(eager=True)  # <= n_buckets rows
        )
        self.table.merge(hist, self._policy)

    # ---- ingest ------------------------------------------------------------

    def ingest_batch(self, rows: DataFrame, batch_id: int | None = None) -> None:
        """Fold one micro-batch's histogram into the cumulative actual
        side (whole-group replacement of ≤ n_buckets rows).  The
        batch_id watermark rides in the rows: a replayed batch is
        skipped, not double-counted (count addition is non-idempotent —
        the sketch-sibling discipline)."""
        prior = self._side("actual")
        prior_batch = -1
        if prior is not None:
            got = prior.agg(F.max("last_batch")).collect()[0][0]
            prior_batch = -1 if got is None else got
        if batch_id is None:
            batch_id = prior_batch + 1
        if batch_id <= prior_batch:
            return  # replay: already folded
        delta = self._hist(rows)
        summed = (
            delta
            if prior is None
            else delta.unionByName(prior.select("bucket", "n"))
            .groupBy("bucket")
            .agg(F.sum("n").cast("bigint").alias("n"))
        )
        new = (
            summed.withColumn("side", F.lit("actual"))
            .withColumn("last_batch", F.lit(batch_id).cast("bigint"))
            .localCheckpoint(eager=True)  # <= n_buckets rows
        )
        self.table.merge(new, self._policy)

    # ---- report ------------------------------------------------------------

    def report(self, min_pct: float = 1e-6) -> DataFrame:
        """Per-bucket PSI contributions of everything ingested so far vs
        the frozen reference — psi_from_counts, i.e. bit-for-bit the
        batch operator's arithmetic over the same counts."""
        expected = self._side("expected")
        actual = self._side("actual")
        if expected is None or expected.limit(1).count() == 0:
            raise ValueError("no reference histogram: call set_reference first")
        e = expected.select("bucket", F.col("n").alias("n_expected"))
        if actual is None:
            actual = self.spark.createDataFrame([], "bucket int, n bigint")
        a = actual.select("bucket", F.col("n").alias("n_actual"))
        return psi_from_counts(e, a, min_pct)

    def psi(self, min_pct: float = 1e-6) -> float:
        """The scalar PSI (sum of contributions)."""
        got = self.report(min_pct).agg(F.sum("psi_contrib")).collect()[0][0]
        return round(float(got or 0.0), 6)


def streaming_psi(
    spark: SparkSession,
    input_dir: str,
    monitor_root: str,
    checkpoint_dir: str,
    schema: str,
    value_col: str | None = None,
    reference=None,
    bucket_width: float | None = None,
    n_buckets: int | None = None,
) -> StreamingPsiMonitor:
    """Checkpointed ingest: parquet rows landing in ``input_dir`` fold
    into the persistent monitor batch by batch (availableNow; the
    streaming_reservoir shape).

    ``reference`` may be a DataFrame or a zero-arg loader returning one
    — it is resolved ONLY when the monitor has no frozen baseline yet
    (first open).  An established monitor ignores it entirely, so the
    original reference snapshot may be moved or deleted without
    breaking re-runs; pass None once the baseline exists.  The same
    holds for ``value_col``/``bucket_width``/``n_buckets``: on reopen
    they load from the monitor's config sidecar when omitted (r12
    advice — a reopen without them previously hit the constructor's
    "bucket_width must be > 0"); a FIRST open must state them.

    The checkpoint dir is part of the monitor's identity: stream batch
    ids are PER-CHECKPOINT, so re-pointing an established monitor at a
    fresh checkpoint would restart ids at 0 and the replay watermark
    would silently drop the early batches as replays (and re-fold high
    ids) — corrupted counts with no error.  The first checkpoint path
    is pinned in a sidecar and any later mismatch is rejected loudly
    (streaming/ckpt.py — shared with every non-idempotent sketch);
    re-baseline by starting a fresh monitor_root."""
    from cumulus_etl_spark.streaming.ckpt import pin_checkpoint_identity

    pin_checkpoint_identity(spark, monitor_root, checkpoint_dir)
    mon = StreamingPsiMonitor(
        spark, monitor_root, value_col, bucket_width, n_buckets
    )
    if mon._side("expected") is None:
        if reference is None:
            raise ValueError(
                "new monitor has no frozen baseline: pass a reference "
                "snapshot (DataFrame or loader) on first open"
            )
        if callable(reference):
            reference = reference()
        mon.set_reference(reference)
    stream = spark.readStream.schema(schema).parquet(input_dir)
    (
        stream.writeStream.foreachBatch(
            lambda batch_df, batch_id: mon.ingest_batch(batch_df, batch_id=batch_id)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return mon


# ---- multi-column monitor (r13, round-12 verdict ask 5) -------------------

MULTI_HIST_TABLE = "drift_hist_multi"
_MULTI_CONFIG_FILE = "_drift_config.json"


class StreamingDriftMonitor:
    """Multi-column streaming drift monitor: the batch side went
    multi-column in r12 (``psi_drift_multi``, oracled); a real
    landing-dir audit wants the same N-columns-for-one-scan shape
    INCREMENTALLY.  This is the single-column monitor's design with the
    melt/(column, bucket) state: per batch, ONE generator-projection
    melt + ONE map-side-combined hash aggregate however many columns
    are watched; persistent state is ≤ 2 × n_buckets × |columns| rows
    forever.

    All four binning pieces are the batch operator's own definitions
    (operators/drift.py: ``melt_columns`` / ``reference_grid`` /
    ``multi_hist`` / ``psi_from_counts_multi``), so the pinned
    invariant carries over verbatim: after ANY batch split, the
    monitor's report EQUALS ``psi_drift_multi(reference,
    concat(batches))``.

    Grid semantics: the per-column (lo, width) grid derives from the
    REFERENCE at ``set_reference`` time and is persisted in the config
    sidecar — later batches bin identically without ever rescanning
    the reference.  Because the cumulative actual-side counts are
    binned UNDER that grid, re-pointing an established monitor at a
    reference that yields a DIFFERENT grid is rejected loudly
    (aggregated counts cannot be rebinned); re-baseline by starting a
    fresh monitor root.  Replay discipline and the checkpoint-identity
    guard are inherited unchanged from the single-column monitor."""

    BINNING_VERSION = "clamp-low-v2"  # shared bucketing convention

    def __init__(self, spark: SparkSession, root: str,
                 value_cols: list[str] | None = None,
                 n_buckets: int | None = None):
        cfg_path = os.path.join(root, _MULTI_CONFIG_FILE)
        stored = None
        if hadoop_io.exists(spark, cfg_path):
            stored = json.loads(hadoop_io.read_text(spark, cfg_path))
        if value_cols is None or n_buckets is None:
            # reopen convenience (the single-column monitor's r13
            # sidecar rule): an established monitor knows its own shape
            if stored is None:
                missing = [
                    n for n, v in (("value_cols", value_cols),
                                   ("n_buckets", n_buckets))
                    if v is None
                ]
                raise ValueError(
                    f"new monitor root {root!r} has no config sidecar: "
                    f"{missing} must be given explicitly on first open"
                )
            value_cols = (
                list(stored["value_cols"]) if value_cols is None
                else list(value_cols)
            )
            n_buckets = stored["n_buckets"] if n_buckets is None else n_buckets
        value_cols = list(value_cols)
        if not value_cols:
            raise ValueError("StreamingDriftMonitor needs at least one column")
        if n_buckets < 2:
            raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
        self.spark = spark
        self.root = root
        self.value_cols = value_cols
        self.n_buckets = int(n_buckets)
        self._cfg_path = cfg_path
        identity = {
            "value_cols": value_cols,
            "n_buckets": self.n_buckets,
            "binning": self.BINNING_VERSION,
        }
        if stored is not None:
            if {k: stored.get(k) for k in identity} != identity:
                raise ValueError(
                    f"monitor root {root!r} was created with "
                    f"{ {k: stored.get(k) for k in identity} }; reopened "
                    f"with {identity} — mismatched binning would corrupt "
                    "the cumulative histograms"
                )
            # grid is derived state: present once set_reference ran
            self.grid = (
                {c: (lo, w) for c, (lo, w) in stored["grid"].items()}
                if stored.get("grid")
                else None
            )
        else:
            self.grid = None
            hadoop_io.write_text(
                spark, cfg_path, json.dumps({**identity, "grid": None})
            )
        self.table = ManagedTable(spark, root, MULTI_HIST_TABLE)
        self._policy = MergePolicy(
            keys=("side", "column", "bucket"),
            group_field="side",
            last_updated_field=None,
            num_buckets=1,
        )

    # ---- histogram plumbing ------------------------------------------------

    def _hist(self, rows: DataFrame, n_alias: str = "n") -> DataFrame:
        from cumulus_etl_spark.operators.drift import multi_hist

        if self.grid is None:
            raise ValueError(
                "no frozen reference grid: call set_reference first"
            )
        return multi_hist(
            rows, self.value_cols, self.grid, self.n_buckets, n_alias
        )

    def _side(self, side: str) -> DataFrame | None:
        state = self.table.read()
        if state is None:
            return None
        return state.filter(F.col("side") == side).select(
            "column", "bucket", "n", "last_batch"
        )

    # ---- reference ---------------------------------------------------------

    def set_reference(self, reference: DataFrame) -> None:
        """Freeze the reference: derive the per-column grid (one bounded
        aggregate), persist it in the sidecar, histogram the reference
        under it (one more scan).  On an ESTABLISHED monitor the new
        reference must reproduce the stored grid exactly — cumulative
        actual counts are binned under it and cannot be rebinned."""
        from cumulus_etl_spark.operators.drift import reference_grid

        grid = reference_grid(reference, self.value_cols, self.n_buckets)
        if self.grid is not None and grid != self.grid:
            raise ValueError(
                f"monitor root {self.root!r} has a frozen grid "
                f"{self.grid}; the new reference derives {grid} — "
                "re-baseline with a changed grid by starting a fresh "
                "monitor root (cumulative counts cannot be rebinned)"
            )
        self.grid = grid
        hadoop_io.write_text(
            self.spark,
            self._cfg_path,
            json.dumps({
                "value_cols": self.value_cols,
                "n_buckets": self.n_buckets,
                "binning": self.BINNING_VERSION,
                "grid": {c: [lo, w] for c, (lo, w) in grid.items()},
            }),
        )
        hist = (
            self._hist(reference)
            .withColumn("side", F.lit("expected"))
            .withColumn("last_batch", F.lit(-1).cast("bigint"))
            .localCheckpoint(eager=True)  # <= |cols| * n_buckets rows
        )
        self.table.merge(hist, self._policy)

    # ---- ingest ------------------------------------------------------------

    def ingest_batch(self, rows: DataFrame, batch_id: int | None = None) -> None:
        """Fold one micro-batch's (column, bucket) histogram into the
        cumulative actual side.  Same replay watermark as the
        single-column monitor: count addition is non-idempotent, so a
        replayed batch_id is skipped, never double-counted."""
        prior = self._side("actual")
        prior_batch = -1
        if prior is not None:
            got = prior.agg(F.max("last_batch")).collect()[0][0]
            prior_batch = -1 if got is None else got
        if batch_id is None:
            batch_id = prior_batch + 1
        if batch_id <= prior_batch:
            return  # replay: already folded
        delta = self._hist(rows)
        summed = (
            delta
            if prior is None
            else delta.unionByName(prior.select("column", "bucket", "n"))
            .groupBy("column", "bucket")
            .agg(F.sum("n").cast("bigint").alias("n"))
        )
        new = (
            summed.withColumn("side", F.lit("actual"))
            .withColumn("last_batch", F.lit(batch_id).cast("bigint"))
            .localCheckpoint(eager=True)  # <= |cols| * n_buckets rows
        )
        self.table.merge(new, self._policy)

    # ---- report ------------------------------------------------------------

    def report(self, min_pct: float = 1e-6) -> DataFrame:
        """Per-(column, bucket) PSI contributions of everything ingested
        so far vs the frozen reference — ``psi_from_counts_multi``,
        i.e. bit-for-bit the arithmetic the ``profile_psi_drift_multi``
        oracle row hash-pins, over the same counts."""
        from cumulus_etl_spark.operators.drift import psi_from_counts_multi

        expected = self._side("expected")
        actual = self._side("actual")
        if expected is None or expected.limit(1).count() == 0:
            raise ValueError("no reference histogram: call set_reference first")
        e = expected.select("column", "bucket", F.col("n").alias("n_expected"))
        if actual is None:
            actual = self.spark.createDataFrame(
                [], "column string, bucket int, n bigint"
            )
        a = actual.select("column", "bucket", F.col("n").alias("n_actual"))
        return psi_from_counts_multi(e, a, min_pct)

    def report_dict(self, min_pct: float = 1e-6) -> dict:
        """The ``drift --columns`` verb's per-column summary — PSI, KS,
        JS, totals — quoted from ONE collected grid (|columns| ×
        |buckets| rows, the bounded-collect discipline), through the
        same builder the batch verb uses."""
        from cumulus_etl_spark.operators.drift import multi_drift_summary

        return multi_drift_summary(self.report(min_pct).collect(), self.value_cols)


def streaming_drift_multi(
    spark: SparkSession,
    input_dir: str,
    monitor_root: str,
    checkpoint_dir: str,
    schema: str,
    value_cols: list[str] | None = None,
    reference=None,
    n_buckets: int | None = None,
) -> StreamingDriftMonitor:
    """Checkpointed multi-column ingest: the ``streaming_psi`` shape
    (availableNow, foreachBatch fold, checkpoint-identity pinned) over
    the (column, bucket) state.  ``reference`` resolves only on first
    open (DataFrame or zero-arg loader); ``value_cols``/``n_buckets``
    load from the sidecar when omitted on reopen."""
    from cumulus_etl_spark.streaming.ckpt import pin_checkpoint_identity

    pin_checkpoint_identity(spark, monitor_root, checkpoint_dir)
    mon = StreamingDriftMonitor(spark, monitor_root, value_cols, n_buckets)
    if mon.grid is None:
        if reference is None:
            raise ValueError(
                "new monitor has no frozen baseline: pass a reference "
                "snapshot (DataFrame or loader) on first open"
            )
        if callable(reference):
            reference = reference()
        mon.set_reference(reference)
    stream = spark.readStream.schema(schema).parquet(input_dir)
    (
        stream.writeStream.foreachBatch(
            lambda batch_df, batch_id: mon.ingest_batch(batch_df, batch_id=batch_id)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return mon


# ---- categorical monitor (r13) --------------------------------------------

CAT_HIST_TABLE = "drift_hist_cat"
_CAT_CONFIG_FILE = "_catdrift_config.json"


class StreamingCategoricalMonitor:
    """Streaming counterpart of ``categorical_drift``: an incrementally
    maintained category histogram ("has the source mix shifted yet?")
    against a frozen reference.  Same skeleton as the other two
    monitors — ≤ 2 × (top_k + 1) rows of state forever, batch-id replay
    watermark, checkpoint-identity guard, config-sidecar reopen.

    The category UNIVERSE (the reference's top-k by count, total
    tiebreak, everything else → ``__other__``) freezes at
    ``set_reference`` and persists in the sidecar, so later batches
    fold identically without rescanning the reference; batch-side
    relabeling is a literal ``isin`` over ≤ top_k strings — no join at
    all on the ingest path.  A re-baseline whose reference derives a
    DIFFERENT universe is rejected loudly (folded counts cannot be
    re-split), the multi monitor's grid rule.

    The report goes through ``psi_from_counts`` — literally the same
    function the oracled numeric operator ends with, joined on the
    category as the bucket key — so the pinned invariant carries over:
    after ANY batch split the report EQUALS
    ``categorical_drift(reference, concat(batches))``."""

    FOLD_VERSION = "topk-other-v1"  # universe/fold convention

    def __init__(self, spark: SparkSession, root: str,
                 category_col: str | None = None,
                 top_k: int | None = None):
        cfg_path = os.path.join(root, _CAT_CONFIG_FILE)
        stored = None
        if hadoop_io.exists(spark, cfg_path):
            stored = json.loads(hadoop_io.read_text(spark, cfg_path))
        if category_col is None or top_k is None:
            if stored is None:
                missing = [
                    n for n, v in (("category_col", category_col),
                                   ("top_k", top_k))
                    if v is None
                ]
                raise ValueError(
                    f"new monitor root {root!r} has no config sidecar: "
                    f"{missing} must be given explicitly on first open"
                )
            category_col = (
                stored["category_col"] if category_col is None else category_col
            )
            top_k = stored["top_k"] if top_k is None else top_k
        if top_k < 1:
            raise ValueError(f"top_k must be >= 1, got {top_k}")
        self.spark = spark
        self.root = root
        self.category_col = category_col
        self.top_k = int(top_k)
        self._cfg_path = cfg_path
        identity = {
            "category_col": category_col,
            "top_k": self.top_k,
            "fold": self.FOLD_VERSION,
        }
        if stored is not None:
            if {k: stored.get(k) for k in identity} != identity:
                raise ValueError(
                    f"monitor root {root!r} was created with "
                    f"{ {k: stored.get(k) for k in identity} }; reopened "
                    f"with {identity} — mismatched binning would corrupt "
                    "the cumulative histograms"
                )
            self.universe = (
                list(stored["universe"]) if stored.get("universe") else None
            )
        else:
            self.universe = None
            hadoop_io.write_text(
                spark, cfg_path, json.dumps({**identity, "universe": None})
            )
        self.table = ManagedTable(spark, root, CAT_HIST_TABLE)
        self._policy = MergePolicy(
            keys=("side", "category"),
            group_field="side",
            last_updated_field=None,
            num_buckets=1,
        )

    # ---- histogram plumbing ------------------------------------------------

    def _hist(self, rows: DataFrame) -> DataFrame:
        from cumulus_etl_spark.operators.drift import OTHER_CATEGORY

        if self.universe is None:
            raise ValueError(
                "no frozen category universe: call set_reference first"
            )
        cat = F.col(self.category_col).cast("string")
        # literal isin over <= top_k strings (Column API, no SQL text,
        # no join): the ingest path's whole relabel is one expression
        label = (
            F.when(cat.isin(self.universe), cat)
            .otherwise(F.lit(OTHER_CATEGORY))
        )
        return (
            rows.filter(F.col(self.category_col).isNotNull())  # null policy
            .groupBy(label.alias("category"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        )

    def _side(self, side: str) -> DataFrame | None:
        state = self.table.read()
        if state is None:
            return None
        return state.filter(F.col("side") == side).select(
            "category", "n", "last_batch"
        )

    # ---- reference ---------------------------------------------------------

    def set_reference(self, reference: DataFrame) -> None:
        """Freeze the universe (top-k by reference count, count DESC /
        category ASC — exactly ``categorical_drift``'s rule) and the
        reference histogram.  On an ESTABLISHED monitor the new
        reference must derive the SAME universe — cumulative actual
        counts are folded under it and cannot be re-split."""
        cat = F.col(self.category_col).cast("string")
        counted = (
            reference.filter(F.col(self.category_col).isNotNull())
            .groupBy(cat.alias("category"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        )
        top = [
            r["category"]
            for r in counted.orderBy(F.desc("n"), F.asc("category"))
            .limit(self.top_k)
            .collect()  # <= top_k rows, the bounded-collect discipline
        ]
        if self.universe is not None and top != self.universe:
            raise ValueError(
                f"monitor root {self.root!r} has a frozen universe "
                f"{self.universe}; the new reference derives {top} — "
                "re-baseline with a changed universe by starting a fresh "
                "monitor root (folded counts cannot be re-split)"
            )
        self.universe = top
        hadoop_io.write_text(
            self.spark,
            self._cfg_path,
            json.dumps({
                "category_col": self.category_col,
                "top_k": self.top_k,
                "fold": self.FOLD_VERSION,
                "universe": top,
            }),
        )
        hist = (
            self._hist(reference)
            .withColumn("side", F.lit("expected"))
            .withColumn("last_batch", F.lit(-1).cast("bigint"))
            .localCheckpoint(eager=True)  # <= top_k + 1 rows
        )
        self.table.merge(hist, self._policy)

    # ---- ingest ------------------------------------------------------------

    def ingest_batch(self, rows: DataFrame, batch_id: int | None = None) -> None:
        """Fold one micro-batch (replay watermark: the sketch-sibling
        rule, count addition is non-idempotent)."""
        prior = self._side("actual")
        prior_batch = -1
        if prior is not None:
            got = prior.agg(F.max("last_batch")).collect()[0][0]
            prior_batch = -1 if got is None else got
        if batch_id is None:
            batch_id = prior_batch + 1
        if batch_id <= prior_batch:
            return  # replay: already folded
        delta = self._hist(rows)
        summed = (
            delta
            if prior is None
            else delta.unionByName(prior.select("category", "n"))
            .groupBy("category")
            .agg(F.sum("n").cast("bigint").alias("n"))
        )
        new = (
            summed.withColumn("side", F.lit("actual"))
            .withColumn("last_batch", F.lit(batch_id).cast("bigint"))
            .localCheckpoint(eager=True)  # <= top_k + 1 rows
        )
        self.table.merge(new, self._policy)

    # ---- report ------------------------------------------------------------

    def report(self, min_pct: float = 1e-6) -> DataFrame:
        """``categorical_drift``'s output schema over everything
        ingested so far — the arithmetic is ``psi_from_counts`` itself
        with the category as the bucket key (one shared definition,
        the monitors' never-bin-apart rule)."""
        from cumulus_etl_spark.operators.drift import psi_from_counts

        expected = self._side("expected")
        actual = self._side("actual")
        if expected is None or expected.limit(1).count() == 0:
            raise ValueError("no reference histogram: call set_reference first")
        e = expected.select(
            F.col("category").alias("bucket"), F.col("n").alias("n_expected")
        )
        if actual is None:
            actual = self.spark.createDataFrame([], "category string, n bigint")
        a = actual.select(
            F.col("category").alias("bucket"), F.col("n").alias("n_actual")
        )
        return psi_from_counts(e, a, min_pct).withColumnRenamed(
            "bucket", "category"
        )

    def report_dict(self, min_pct: float = 1e-6) -> dict:
        """PSI + chi-square + Cramér's V from ONE collected
        ≤ (top_k + 1)-row report — the batch verb's quote, incremental."""
        from cumulus_etl_spark.operators.drift import (
            chi2_from_rows,
            psi_total,
            psi_verdict,
        )

        rows = self.report(min_pct).collect()
        psi = psi_total(rows)
        chi2, v = chi2_from_rows(rows)
        return {
            "column": self.category_col,
            "mode": "categorical",
            "psi": psi,
            "verdict": psi_verdict(psi),
            "chi2": chi2,
            "cramers_v": v,
            "n_expected": sum(r["n_expected"] for r in rows),
            "n_actual": sum(r["n_actual"] for r in rows),
            "categories": [
                {"category": r["category"], "n_expected": r["n_expected"],
                 "n_actual": r["n_actual"], "psi_contrib": r["psi_contrib"]}
                for r in rows
            ],
        }


def streaming_categorical_drift(
    spark: SparkSession,
    input_dir: str,
    monitor_root: str,
    checkpoint_dir: str,
    schema: str,
    category_col: str | None = None,
    reference=None,
    top_k: int | None = None,
) -> StreamingCategoricalMonitor:
    """Checkpointed categorical ingest — the ``streaming_psi`` shape
    (availableNow, foreachBatch fold, checkpoint-identity pinned);
    ``reference`` resolves only on first open, ``category_col``/
    ``top_k`` load from the sidecar when omitted on reopen."""
    from cumulus_etl_spark.streaming.ckpt import pin_checkpoint_identity

    pin_checkpoint_identity(spark, monitor_root, checkpoint_dir)
    mon = StreamingCategoricalMonitor(spark, monitor_root, category_col, top_k)
    if mon.universe is None:
        if reference is None:
            raise ValueError(
                "new monitor has no frozen baseline: pass a reference "
                "snapshot (DataFrame or loader) on first open"
            )
        if callable(reference):
            reference = reference()
        mon.set_reference(reference)
    stream = spark.readStream.schema(schema).parquet(input_dir)
    (
        stream.writeStream.foreachBatch(
            lambda batch_df, batch_id: mon.ingest_batch(batch_df, batch_id=batch_id)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return mon
