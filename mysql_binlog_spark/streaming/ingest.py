"""Structured-Streaming front end for the CDC ingest.

The reference's `backup` binary tails a live binlog stream with a
10240-event buffer and per-table channel fan-out
(siddontang/go-mysql/replication/binlogstreamer.go:56,
backup/handler/merge.go:458-510). Our analog: ``readStream`` over the
changelog directory (files appear in seq order, the way compacted binlog
files land on shared storage), ``foreachBatch`` running the SAME
collapse + fenced-merge path as the batch engine.

- Backpressure (T7): ``maxFilesPerTrigger`` bounds each micro-batch — the
  analog of the reference's bounded channels.
- Watermarks (T2): not needed — the source is seq-ordered by construction,
  like the reference's single ordered binlog stream; late data cannot
  occur. (For an out-of-order source you would add
  ``withWatermark("event_time", ...)`` before any windowed agg.)
- Exactly-once (T4): Spark's streaming checkpoint gives at-least-once
  foreachBatch invocation. Fencing is CONTENT-derived, not batch-id
  derived: each micro-batch is filtered to ``seq > committed high
  watermark`` and applied as the next epoch. Spark's ``batch_id`` is
  deliberately ignored — batch ids restart at 0 when a checkpoint dir is
  lost/replaced, and the file-to-batch assignment of the new run need
  not match the original (different ``maxFilesPerTrigger``, newly landed
  files), so fencing on batch id could silently drop a batch whose
  contents differ from the original epoch with the same id. The seq
  watermark depends only on committed table state, so replays (in either
  crash order, or after a full checkpoint wipe) re-apply nothing and
  lose nothing — the reference's position-row resume semantics
  (common/db/mysql.go:198-226: restart reads the position, not a batch
  counter). Requires the source's seq ORDER across files (guaranteed by
  the changelog landing protocol, like binlog file ordering) — NOT seq
  density: a source whose seqs have gaps (events filtered upstream)
  streams unchanged, since every fence test is an order/range
  comparison (see the GTID-gap note at lake/table.py's fence section
  and test_stream_ingest_with_gapped_seqs); a late
  file straddling the committed watermark is DETECTED and fails the
  stream loudly rather than silently dropping its never-applied rows,
  and a late file WHOLLY below the watermark is audited against the
  source's bounded applied-file window (SourceState.file_applied_state):
  applied -> replay, never-applied -> loud failure, older than the
  window -> logged as unauditable.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from mysql_binlog_spark.lake.table import LakeTable
from mysql_binlog_spark.operators.collapse import collapse_latest, expand_renames
from mysql_binlog_spark.operators.ddl import BARRIER_ACTIONS, parse_query
from mysql_binlog_spark.sources.changelog_source import read_changelog_stream


def stream_ingest(
    spark: SparkSession,
    events_dir: str,
    table: LakeTable,
    checkpoint_dir: str,
    max_files_per_trigger: int = 4,
    available_now: bool = True,
    source: str = "",
    on_straddle: str = "error",
    maintain_every: int | None = None,
    maintain_keep_versions: int = 64,
    maintain_change_retention: int | None = None,
):
    """Stream changelog files into the lake table; returns the query.

    ``maintain_every=N`` (opt-in; default off, and the ``backup`` CLI
    does not set it) runs table maintenance every N committed
    micro-batches INSIDE the stream: ``vacuum(keep_versions=
    maintain_keep_versions, expire_manifests=True)``. A continuous tail
    commits one version per batch forever; without it the metadata chain
    and retired data files only shrink when an operator runs ``vacuum``
    (the ``vacuum`` CLI). Maintenance is itself a fenced maintenance
    commit + deletes of expired files; a crash mid-maintenance is
    recovered by the next cycle (vacuum's floor-first ordering), and the
    vacuum runs between batches so it never races this stream's own
    staged writes.

    ``available_now=True`` drains everything currently in the directory and
    stops (bounded run — the `merge` binary analog); False keeps tailing
    (the `backup` binary analog). ``source`` names the upstream (GTID
    domain analog): multiple streams with distinct sources and disjoint
    key spaces can tail into ONE table concurrently, each fencing on its
    own watermark — the multi-master shape (reference: one backup process
    per instance, common/inter/offset.go:24-33).

    DDL: the stream applies row events only. A micro-batch carrying a
    state-affecting DDL (TRUNCATE / DROP / RENAME) above the watermark
    fails the stream, naming the statement, instead of silently skipping
    it; apply such a changelog with ``engine.pipeline.recover`` /
    ``run_ingest``, whose epoch planner applies DDL as barriers.
    Barrier-only statements (CREATE / ALTER / GRANT ...) change no row
    and pass.

    ``on_straddle`` controls what happens when a file's seq range
    straddles the committed watermark:

    - ``"error"`` (default): fail the stream — under streaming-only
      operation every committed watermark is a whole-file boundary, so a
      straddler can only mean out-of-order landing, where silently
      fencing out its below-watermark rows would lose never-applied data
      (and blindly applying them could resurrect keys deleted by an
      interleaved file).
    - ``"reapply"``: re-apply the straddling file IN FULL. This is the
      batch-to-stream HANDOFF mode: ``run_ingest`` cuts epochs at seq
      positions, not file boundaries, so a table handed over mid-file has
      a legitimately mid-file watermark. Safe under in-order landing:
      all events inside the file's seq range live in that one file, so
      its own collapse resolves every key's winner, and the LWW merge
      makes re-applying the already-applied portion a no-op.
    """
    if on_straddle not in ("error", "reapply"):
        raise ValueError(f"on_straddle must be 'error' or 'reapply', got {on_straddle!r}")
    if maintain_every is not None and maintain_every < 1:
        raise ValueError("maintain_every must be >= 1")
    if (
        maintain_every is not None
        and table.track_changes
        and maintain_change_retention is None
    ):
        # vacuum clamps manifest expiration to changes_floor, and the floor
        # only advances when change retention is configured — so on a
        # change-tracked stream the default maintenance keeps EVERY
        # manifest and metadata still grows without bound, silently
        # defeating what maintain_every is for (round-4 ADVICE). Warn
        # loudly rather than defaulting a retention: retiring change files
        # silently would break incremental diff() over older ranges.
        import logging

        logging.getLogger(__name__).warning(
            "stream_ingest(maintain_every=%d) on change-tracked table %s "
            "without maintain_change_retention: manifests cannot be "
            "expired below the change floor, so table metadata will STILL "
            "grow unboundedly. Pass maintain_change_retention=N to retire "
            "change files older than N versions (diff() below that floor "
            "then falls back to the snapshot join), or run "
            "compact_changes + vacuum out of band.",
            maintain_every, table.root,
        )
    src = read_changelog_stream(spark, events_dir, max_files_per_trigger)
    commits_since_maintain = [0]

    def apply_batch(batch_df, batch_id: int):
        # content-derived fence (see module docstring): only rows beyond
        # the committed watermark are new; a fully replayed batch (crash
        # replay OR lost-checkpoint re-read) filters to empty and commits
        # nothing. batch_id is ignored on purpose.
        #
        # Landing-order guard: in-order landing makes every committed
        # watermark a whole-file boundary (epochs apply whole batches of
        # whole files), so a file whose seq range STRADDLES the watermark
        # can only mean out-of-order landing — its below-watermark rows
        # were never applied and the fence would silently drop them.
        # Fail loudly instead. (A late file wholly below the watermark is
        # indistinguishable from a legitimate replay by seq metadata
        # alone — ruling it out is exactly what the landing protocol's
        # in-order guarantee is for.) The per-file agg doubles as the
        # emptiness probe and collects the DDL statements above the
        # watermark, so this costs no extra pass over the batch. One read
        # of the source's record serves every fence question below.
        rec = table.source_state(source)
        hwm = rec.hwm
        new_ddl = (F.col("op") == "Q") & (F.col("seq") > hwm)
        stats = (
            batch_df.groupBy(F.col("_src_file").alias("f"))
            .agg(
                F.min("seq").alias("lo"),
                F.max("seq").alias("hi"),
                F.collect_list(F.when(new_ddl, F.col("statement"))).alias("ddl"),
            )
            .collect()
        )
        state_ddl = [
            stmt for r in stats for stmt in r["ddl"]
            if any(p.action not in BARRIER_ACTIONS for p in parse_query(stmt))
        ]
        if state_ddl:
            raise RuntimeError(
                f"changelog DDL {state_ddl} above the committed watermark "
                f"{hwm} changes table state, and the streaming front end "
                f"applies row events only — it would silently skip it. "
                f"Apply this changelog with a bounded replay "
                f"(engine.pipeline.recover / run_ingest, the `recover` "
                f"CLI), whose epoch planner applies DDL as barriers."
            )
        straddlers = [r["f"] for r in stats if r["lo"] <= hwm < r["hi"]]
        if straddlers and on_straddle == "error":
            raise RuntimeError(
                f"out-of-order changelog landing detected: file(s) "
                f"{straddlers} contain seqs at or below the committed "
                f"watermark {hwm} alongside new rows — their old rows were "
                f"never applied. The landing protocol must add files in "
                f"seq order. (If this table was handed over from a batch "
                f"run_ingest whose epoch cut falls mid-file, restart the "
                f"stream with on_straddle='reapply'.)"
            )
        # A file WHOLLY below the watermark is either a replay (applied
        # before — crash replay or checkpoint wipe) or a late file that
        # was never applied. Seq metadata alone cannot tell them apart;
        # the manifest's applied-file window can, within its coverage
        # (ADVICE round 3: the never-applied case is data loss and must
        # fail loudly, not be silently fenced out).
        import logging

        log = logging.getLogger(__name__)
        below = {
            r["f"]: rec.file_applied_state(r["f"], int(r["hi"]))
            for r in stats
            if r["hi"] <= hwm
        }
        never_applied = [f for f, st in below.items() if st == "unseen"]
        if never_applied:
            # No state-level recovery exists for this case: the late
            # file's events interleave (by seq) with ALREADY-APPLIED later
            # events, and deletes are physical — re-applying the file
            # would resurrect keys whose tombstones (higher seq, applied
            # long ago) are no longer in state. Detection is the fix the
            # fence can offer; recovery is a bounded re-replay (recover /
            # run_ingest over the full changelog), whose epoch collapse
            # sees both the late events and the tombstones.
            raise RuntimeError(
                f"late changelog file(s) {never_applied} lie wholly below "
                f"the committed watermark {hwm} but are NOT in the table's "
                f"applied-file window — they were never applied, and the "
                f"seq fence would silently drop their rows (re-applying "
                f"them against current state could resurrect keys deleted "
                f"by later, already-applied events). The landing protocol "
                f"must add files in seq order; recover the table with a "
                f"full replay (engine.pipeline.recover) if the file is "
                f"genuine late data."
            )
        for f, st in below.items():
            if st == "below_window":
                log.warning(
                    "file %s is wholly below the watermark and older than "
                    "the applied-file audit window — treated as a replay "
                    "(raise LakeTable.APPLIED_FILES_WINDOW above the "
                    "landing protocol's worst-case reordering to audit "
                    "deeper)", f,
                )
        reapply = set(straddlers)
        if not reapply and all(r["hi"] <= hwm for r in stats):
            return  # pure replay (crash or checkpoint wipe): nothing new
        # 'reapply' handoff mode: straddling / recovered files go in whole
        # — their own collapse picks each key's winner, the merge is
        # idempotent for the already-applied part
        fresh = batch_df.filter(
            (F.col("seq") > hwm) | F.col("_src_file").isin(sorted(reapply))
            if reapply
            else (F.col("seq") > hwm)
        )
        batch = collapse_latest(expand_renames(fresh))
        applied = {
            r["f"]: int(r["hi"]) for r in stats if r["hi"] > hwm or r["f"] in reapply
        }
        table.merge(batch, epoch=rec.next_epoch_id(), source=source, files=applied)
        if maintain_every is not None:
            commits_since_maintain[0] += 1
            if commits_since_maintain[0] >= maintain_every:
                commits_since_maintain[0] = 0
                # change-tracked tables keep manifests above the changes
                # floor by design; pass maintain_change_retention to also
                # retire old change files (diff below the floor then
                # falls back to the snapshot join, explicitly)
                table.vacuum(
                    keep_versions=maintain_keep_versions,
                    change_retention_versions=maintain_change_retention,
                    expire_manifests=True,
                )

    writer = (
        src.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
    else:
        q = writer.start()
    return q
