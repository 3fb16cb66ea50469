"""Idempotent, compactable parquet state tables for foreachBatch pipelines.

The micro-batch pipelines in :mod:`.pipeline` keep their durable state
(downsampled history, partial trend counts, partial CMS grids, partial
HLL sketches) in a parquet table that each micro-batch appends to.  Two
failure modes of the naive ``mode("append")`` write:

1. **Replay double-counting.** ``foreachBatch`` is AT-LEAST-ONCE: after
   a crash between the state write and the checkpoint commit, the same
   micro-batch (same ``batch_id``, same source offsets) re-runs and a
   blind append lands its rows twice.  Register-max sketches (HLL)
   shrug that off; additive state (CMS grids, trend counts, history
   rows) double-counts and the "streaming result EQUALS batch result"
   contract breaks.
2. **Unbounded growth.** One small file per batch means per-batch read
   cost grows O(#batches) in file-listing and task scheduling even when
   the live row volume is tiny.

:class:`PartialStateTable` fixes both with one mechanism — the table is
partitioned by ``__batch_id``:

* ``append(df, batch_id)`` is a DYNAMIC-partition overwrite of exactly
  the ``__batch_id=<id>`` directory: a replayed batch overwrites its own
  previous attempt instead of appending next to it (idempotent for any
  deterministic batch content, and at-least-once-safe regardless — the
  read side filters superseded partitions, below).
* ``seed(df)`` writes the backfill half of the lambda shape to its OWN
  partition (``__batch_id=-2``), which compaction never folds into the
  base — so re-seeding replaces exactly the previous backfill and can
  never swallow compacted live micro-batch state.
* ``compact(spark, transform=...)`` folds every live partition into the
  base partition (``__batch_id=-1``), optionally applying a retention
  ``transform`` so culled rows leave disk, and records the highest
  batch id folded in (the *watermark*) in a ``_compacted_through``
  marker file.  The seed partition is NOT transformed: an
  anchor-relative cull (``retain_window``) evaluated over the seed
  alone would anchor on the backfill's own frontier, not the live
  stream's — so expired backfill rows are culled LOGICALLY by the
  pipeline's read-side transform (and physically bounded: at most one
  retention window of backfill can sit on disk, replaced wholesale on
  re-seed).
  ``read`` keeps only the seed, the base and partitions ABOVE the
  watermark, so a batch replayed from before the compaction point
  writes a partition that is simply ignored — never double-counted with
  its copy inside the base.
* the rewrite goes to a sibling temp dir and swaps in via two renames;
  a crash in the window between them is healed by ``_recover()`` (run
  before every read/write), which restores the displaced table — so
  readers never see a half-compacted or missing state.

:func:`incremental` is the one ``foreachBatch`` body every live twin in
:mod:`.pipeline` runs over such a table.  It compacts at the TOP of the
body, before the current batch's append, so on replay the previous
attempt's partition is folded in with the watermark advanced over it
and the re-append is filtered out on read.  A twin supplies only its
``partial``, its compaction ``fold`` and its ``finalize``.

Filesystem contract: paths must be DRIVER-LOCAL (the swap/recovery use
pathlib/shutil; Spark I/O alone would also work on HDFS, but the
marker and rename discipline here do not).  On HDFS/object stores use
a table format (Delta/Iceberg) whose commit protocol provides the same
atomicity instead.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

BASE_PARTITION = -1  # __batch_id value of the compacted base
SEED_PARTITION = -2  # __batch_id value of the backfill (never compacted away)
_MARKER = "_compacted_through"  # underscore-prefixed: invisible to parquet scans


def _fits(cached, written) -> bool:
    """Whether a field read back under the cached schema reads as
    written: same name and type, and nullable if the write is.  Parquet
    reads every column (and nested element) as nullable, so the type
    compare ignores nested nullability and a non-null write fits a
    nullable cached field."""
    return (
        cached is not None
        and cached.dataType.simpleString() == written.dataType.simpleString()
        and (cached.nullable or not written.nullable)
    )


class PartialStateTable:
    """A parquet table of per-micro-batch partial state (see module doc)."""

    def __init__(self, path: str):
        self.path = str(path)
        # Merged on-disk schema, cached after the first read: the
        # per-batch ``mergeSchema`` footer-merge job cost ~0.6-1.0 s of
        # every stream_rfm re-score (interleaved A/B, round 14) while the
        # state schema is fixed within a run.  The cache is invalidated
        # by any append that carries a field (name, type or nullability)
        # the cached schema lacks, and by every compaction (a transform
        # may rewrite the schema), so a resumed pipeline upgrade still
        # merge-reads once.
        self._schema = None

    # -- crash recovery ------------------------------------------------

    def _recover(self) -> None:
        """Heal the two-rename compaction swap's crash window.

        States on disk (src = the table, old = displaced original,
        tmp = compacted rewrite):

        * src missing, tmp complete (has marker) -> promote tmp
          (the crash hit between the two renames AFTER a finished
          rewrite; promoting loses nothing — tmp holds the fold of
          everything src held);
        * src missing, tmp absent/partial, old present -> restore old
          (rewrite never finished; the original is intact);
        * src present -> the swap completed; sweep leftovers.
        """
        import shutil

        src = Path(self.path)
        old = src.with_name(src.name + ".__old__")
        tmp = src.with_name(src.name + ".__compact__")
        if not src.exists():
            if tmp.exists() and (tmp / _MARKER).exists():
                shutil.move(str(tmp), str(src))
            elif old.exists():
                shutil.move(str(old), str(src))
        for leftover in (old, tmp):
            if src.exists() and leftover.exists():
                shutil.rmtree(str(leftover), ignore_errors=True)

    # -- marker --------------------------------------------------------

    def _watermark(self) -> int:
        """Highest batch id already folded into the base partition."""
        marker = Path(self.path) / _MARKER
        try:
            return int(marker.read_text().strip())
        except (FileNotFoundError, ValueError):
            return BASE_PARTITION

    # -- writes --------------------------------------------------------

    def append(self, df: DataFrame, batch_id: int) -> None:
        """Idempotently write one batch's partial rows (replay-safe:
        overwrites only this batch's own partition)."""
        self._recover()
        if self._schema is not None:
            have = {f.name: f for f in self._schema.fields}
            if not all(_fits(have.get(f.name), f) for f in df.schema.fields):
                self._schema = None  # schema-changing write: re-merge on next read
        (
            df.withColumn("__batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__batch_id")
            .parquet(self.path)
        )

    def seed(self, df: DataFrame) -> None:
        """Write (or replace) the backfill partition — the batch half of
        the lambda shape, before any micro-batch runs.  Lives in its own
        partition (never folded into the base), so re-seeding replaces
        exactly the previous backfill and nothing else."""
        self.append(df, SEED_PARTITION)

    # -- reads ---------------------------------------------------------

    def read(
        self, spark: SparkSession, *, exclude_batch: int | None = None
    ) -> DataFrame | None:
        """Current live state: seed + base + partitions above the
        compaction watermark (superseded replay partitions excluded).
        ``None`` until the first write creates the table.

        ``exclude_batch`` additionally filters out that one partition.
        Pipelines whose batch partial DEPENDS on carried state (funnel
        frontiers, attribution best-touch) must read the prior with
        ``exclude_batch=batch_id``: on an at-least-once replay the table
        already holds the batch's own previous attempt, and a non-
        idempotent fold (e.g. a per-user max that can displace an older
        carried touch with the batch's own later one) would derive a
        DIFFERENT partial than the first attempt saw.  Excluding the
        batch's own partition makes the replay read exactly the prior
        the first attempt read.  (Pair with ``compact(...,
        exclude_batch=...)`` so a compaction firing on the replayed
        batch cannot fold that partition into the base first.)"""
        self._recover()
        try:
            if self._schema is None:
                # mergeSchema: a pipeline upgrade may add state columns;
                # old partitions must read as nulls in the widened
                # schema, not shadow the new column out of a
                # first-file-wins schema pick
                raw = spark.read.option("mergeSchema", "true").parquet(self.path)
                self._schema = raw.schema
            else:
                # fixed-schema fast path: the explicit (previously
                # merged) schema reads files missing a column as nulls —
                # the same semantics the merge produced — without the
                # per-batch footer-merge job
                raw = spark.read.schema(self._schema).parquet(self.path)
        except AnalysisException:
            return None
        wm = self._watermark()
        bid = F.col("__batch_id").cast("long")
        keep = (bid == BASE_PARTITION) | (bid == SEED_PARTITION) | (bid > wm)
        if exclude_batch is not None:
            keep = keep & (bid != int(exclude_batch))
        return raw.filter(keep).drop("__batch_id")

    # -- compaction ----------------------------------------------------

    def compact(
        self, spark: SparkSession, *, transform=None, exclude_batch: int | None = None
    ) -> bool:
        """Fold all live micro-batch partitions into the base; advance
        the watermark to the highest batch id folded in.  ``transform``
        (DataFrame -> DataFrame, e.g. a retention cull) is applied to
        the merged base only — the seed partition rides through
        untouched (it stays out of the fold so re-seeding keeps
        working, and an anchor-relative cull over the seed alone would
        anchor wrong; see the module doc).

        ``exclude_batch`` holds that one partition OUT of the fold —
        copied through unchanged, watermark capped below it — for
        pipelines that compact at the top of the batch whose partial
        depends on carried state: a replay landing exactly on a
        compaction boundary must not fold the batch's own previous
        attempt into the base, where no ``read(exclude_batch=...)``
        filter could remove it.  Crash-safe swap via ``_recover``;
        returns False if the table doesn't exist yet."""
        import shutil

        self._recover()
        self._schema = None  # the rewrite (or its transform) may change it
        try:
            raw = spark.read.option("mergeSchema", "true").parquet(self.path)
        except AnalysisException:
            return False
        wm = self._watermark()
        bid = F.col("__batch_id").cast("long")
        live = raw.filter((bid == BASE_PARTITION) | (bid > wm))
        held = None
        if exclude_batch is not None:
            held = live.filter(bid == int(exclude_batch))
            live = live.filter(bid != int(exclude_batch))
        seed = raw.filter(bid == SEED_PARTITION).drop("__batch_id")
        new_wm = live.agg(F.max(bid).alias("m")).collect()[0]["m"]
        new_wm = max(int(new_wm if new_wm is not None else BASE_PARTITION), wm)
        if exclude_batch is not None:
            if int(exclude_batch) <= wm:
                # capping below an already-advanced watermark would
                # REGRESS it, resurrecting previously-superseded
                # partitions (double-counted state).  A batch at or
                # below the watermark is already folded into the base —
                # the hold-out contract is unsatisfiable; fail loudly
                # instead of corrupting silently.
                raise ValueError(
                    f"compact(exclude_batch={exclude_batch}) would regress the "
                    f"watermark (currently {wm}): that batch is already folded "
                    "into the base and cannot be held out"
                )
            # the held partition must stay ABOVE the watermark or both it
            # and the batch's re-append would be invisible to readers
            new_wm = min(new_wm, int(exclude_batch) - 1)
        merged = live.drop("__batch_id")
        if transform is not None:
            merged = transform(merged)
        src = Path(self.path)
        # output file count from the CURRENT on-disk byte size (the
        # io.compact_table discipline) — state tables are bounded-row by
        # design, but "bounded" for a million-metric history is still GBs
        import math

        total = sum(f.stat().st_size for f in src.rglob("*.parquet"))
        n_files = max(1, math.ceil(total / (128 * 1024 * 1024)))
        tmp = src.with_name(src.name + ".__compact__")
        if tmp.exists():
            shutil.rmtree(str(tmp))
        # allowMissingColumns: a schema-widening transform (e.g. the
        # funnel twin's merge adding its __n counter on a pre-upgrade
        # table) must not crash against the seed/held slices still
        # carrying the old on-disk schema — missing columns fill null
        out = merged.withColumn("__batch_id", F.lit(BASE_PARTITION)).unionByName(
            seed.withColumn("__batch_id", F.lit(SEED_PARTITION)),
            allowMissingColumns=True,
        )
        if held is not None:
            out = out.unionByName(
                held.withColumn("__batch_id", F.lit(int(exclude_batch))),
                allowMissingColumns=True,
            )
        (
            out.repartition(n_files)
            .write.mode("overwrite")
            .partitionBy("__batch_id")
            .parquet(str(tmp))
        )
        # marker written LAST: its presence marks tmp as complete, which
        # is what _recover keys on to promote a tmp left by a crash
        (tmp / _MARKER).write_text(str(new_wm))
        old = src.with_name(src.name + ".__old__")
        shutil.move(str(src), str(old))
        shutil.move(str(tmp), str(src))
        shutil.rmtree(str(old))
        return True

    # -- observability -------------------------------------------------

    def file_count(self) -> int:
        """Data files currently on disk (growth-boundedness probe)."""
        return sum(1 for _ in Path(self.path).rglob("*.parquet"))


def incremental(
    state_path: str,
    *,
    partial,
    finalize,
    on_result,
    compact_every: int,
    fold=None,
    prepare=None,
    carried: bool = False,
    every: int = 1,
):
    """The ``foreachBatch`` callable of a live twin over mergeable
    partial state: the batch-plan recompute of trend-o-meter's
    ``runParse()`` (one per accepted sample, trend-o-meter:418) made
    incremental.  Each micro-batch, in this order:

    1. every ``compact_every`` batches (never batch 0), fold the table's
       live partitions into its base with the ``fold`` transform — at
       the TOP of the body, before this batch's append (module doc);
    2. a ``carried`` twin, whose partial depends on state carried from
       earlier batches (funnel frontiers, attribution best-touch), reads
       that ``prior`` with the batch's own partition excluded, and holds
       the partition out of the compaction too, so a replay derives its
       partial from exactly the prior its first attempt saw
       (:meth:`PartialStateTable.read`); other twins get ``None``;
    3. ``batch = prepare(batch_df)`` (default: the batch itself) is what
       both the partial and the report read, derived once; unless the
       batch is empty, ``partial(batch, batch_id, prior)`` is appended
       to the batch's own partition;
    4. on a reporting batch — ``on_result`` set and ``batch_id`` a
       multiple of ``every`` — read the replay-filtered state and emit
       ``on_result(batch_id, finalize(state, batch))``.  Nothing is read
       on other batches, and nothing is emitted until the table exists
       (a seed or a first non-empty partial creates it).

    ``batch_df`` is persisted around its two actions (the empty check
    and the append) and unpersisted after, Spark's documented pattern
    for more than one action on one batch: unpersisted, each action
    re-executes the micro-batch's whole upstream plan — for the day-bin
    twin, every state partition's ``applyInPandasWithState`` task and
    state-store commit, twice per batch.
    """
    st = PartialStateTable(state_path)

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        hold = batch_id if carried else None
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            st.compact(spark, transform=fold, exclude_batch=hold)
        prior = st.read(spark, exclude_batch=hold) if carried else None
        batch_df.persist()
        try:
            batch = batch_df if prepare is None else prepare(batch_df)
            if not batch_df.isEmpty():
                st.append(partial(batch, batch_id, prior), batch_id)
        finally:
            batch_df.unpersist()
        if on_result is None or batch_id % every:
            return
        state = st.read(spark)
        if state is not None:
            on_result(batch_id, finalize(state, batch))

    return per_batch
