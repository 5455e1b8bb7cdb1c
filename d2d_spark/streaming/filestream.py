"""Incremental file-sync as Structured Streaming — the Spark-native
replacement for the reference's watchdog pipeline
(FileSync/Watcher/Handler, d22d/pipline/__init__.py:20-206), which
re-runs a Migration when files appear/change.

Structured Streaming's file source does the same job without a
daemon: the checkpoint's processed-file log IS the reference's
diskcache transfer ledger (README.md:470-502), and
Trigger.AvailableNow turns the watcher into a catch-up batch that
exits when caught up (the cron-style incremental migration the
reference left as TODO, README.md:559-560).

Every stateful sink below keeps its cross-batch state in ONE
`_BatchKeyedState` store (``state_after_batch_N`` per batch, replayed
from the newest entry with id < N); every foreachBatch sink runs
through `_run_foreach_batch`.
"""

from __future__ import annotations

import os
import re
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from d2d_spark.sources.base import local_path


def file_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Watch a directory as an unbounded table. New files are
    discovered per micro-batch; already-seen files are skipped via the
    checkpoint ledger — exactly the reference's skip-transferred-files
    semantics, but transactional."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def sync_available_now(
    df: DataFrame,
    target_path: str,
    checkpoint_path: str,
    fmt: str = "parquet",
    transform: Callable[[DataFrame], DataFrame] | None = None,
):
    """One catch-up pass: process everything not yet in the ledger,
    write to the target, exit. Re-running later picks up only new
    files — incremental migration without a resident watcher."""
    if transform is not None:
        df = transform(df)
    q = (
        df.writeStream.format(fmt)
        .option("path", target_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def stream_to_memory(
    df: DataFrame, name: str, available_now: bool = True, output_mode: str | None = None
):
    """Test/debug sink: materialize a stream into an in-memory table.
    Pass ``output_mode`` explicitly for operators whose declared mode
    the plan-shape heuristic can't see; by default aggregations get
    'complete', stateful flatMapGroupsWithState operators 'update',
    everything else 'append'."""
    mode = output_mode or _default_output_mode(df)
    writer = df.writeStream.format("memory").queryName(name).outputMode(mode)
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    q.awaitTermination()
    return q


def _default_output_mode(df: DataFrame) -> str:
    if not df.isStreaming:
        return "append"
    plan = df._jdf.queryExecution().analyzed().toString()
    for line in plan.splitlines():
        # stateful operators carry their declared mode in the plan
        # node ("..., Append, NoTimeout") — the sink must match it
        if "WithState" in line:
            return "update" if " Update," in line or line.rstrip().endswith("Update") else "append"
    if "Aggregate" in plan:
        return "complete"
    return "append"


def _run_foreach_batch(df: DataFrame, handle, checkpoint_path: str):
    """One availableNow catch-up pass of ``handle`` over every
    micro-batch not yet in the checkpoint's ledger."""
    q = (
        df.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def sync_with_mode(
    df: DataFrame,
    target_path: str,
    checkpoint_path: str,
    mode: str,
    pks: list[str],
    fmt: str = "parquet",
    transform: Callable[[DataFrame], DataFrame] | None = None,
    options: dict[str, str] | None = None,
    order_col: str | None = None,
    partition_by: list[str] | None = None,
):
    """Streaming keyed sink: each micro-batch applies an insert mode
    (ignore/replace/upsert, operators.writes semantics) against the
    target via foreachBatch — the streaming analog of the reference's
    per-window save_data(mode=...) flush (d22d/task.py:140-155), with
    exactly-once per-batch bookkeeping from the checkpoint. Single
    writer per target, as documented in operators/writes.py.

    ``options``/``order_col``/``partition_by`` forward to write_mode —
    a keyed CSV sync without its header/sep options would re-read the
    target mis-parsed on every merge leg."""
    from d2d_spark.operators.writes import write_mode

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        out = transform(batch_df) if transform is not None else batch_df
        write_mode(
            out,
            target_path,
            mode=mode,
            pks=pks,
            fmt=fmt,
            spark=out.sparkSession,
            options=options,
            order_col=order_col,
            partition_by=partition_by,
        )

    return _run_foreach_batch(df, handle, checkpoint_path)


def _checkpoint_is_fresh(checkpoint_path: str) -> bool | None:
    """Whether the checkpoint has never committed a batch (no
    ``offsets/`` yet); None when it is not on a local filesystem, where
    the lifetime guards stand down rather than guess."""
    local = local_path(checkpoint_path)
    if local is None:
        return None
    return not os.path.isdir(os.path.join(local, "offsets"))


def _refuse_fresh_checkpoint_on_used_target(
    name: str, checkpoint_path: str, target_path: str
) -> None:
    """ONE checkpoint lifetime per target: batch ids are assigned by
    the checkpoint, so a deleted/rebuilt checkpoint restarts them at 0
    and would silently overwrite historical ``batch_id=N`` partitions
    while later ones survive — duplicates and lost provenance."""
    target_local = local_path(target_path)
    target_has_batches = (
        target_local is not None
        and os.path.isdir(target_local)
        and any(n.startswith("batch_id=") for n in os.listdir(target_local))
    )
    if _checkpoint_is_fresh(checkpoint_path) and target_has_batches:
        raise ValueError(
            f"{name}: checkpoint {checkpoint_path!r} is fresh but "
            f"target {target_path!r} already holds batch_id= partitions from "
            "a previous checkpoint lifetime. Restarting batch ids at 0 would "
            "silently overwrite historical batches. Use a new target_path, "
            "restore the original checkpoint, or clear the target first."
        )


_STATE_PREFIX = "state_after_batch_"


class _BatchKeyedState:
    """The batch-id-keyed state store behind every stateful sink.

    Batch N commits its state as ``state_after_batch_N`` in
    ``state_dir``: a directory of named parquet parts, the state frame
    itself, or (with ``suffix``) one binary file such as the Bloom
    sink's ``state_after_batch_N.bloom``. Batch N always loads the
    newest state with id < N, so a replayed batch re-reads its
    original pre-state and rewrites its own entry with identical
    content instead of folding into its own output. A commit stages
    ``<name>.tmp`` and renames it into place, so a crash mid-write
    leaves no truncated state for the next batch to load.
    ``keep_last`` prunes older entries after each commit. A sink
    whose readers read only the newest entry keeps two, the newest and
    its pre-state, which is all a replay can read; the carry sinks
    keep every entry, because their readers union each batch's
    ``points``.

    ``state_dir`` may be a plain path or a ``file:`` URI: os-level
    calls use the resolved local path, Spark reads and writes the path
    as given."""

    def __init__(self, state_dir: str, suffix: str = "", keep_last: int | None = None):
        self._dir = state_dir
        self._local = local_path(state_dir)
        self._suffix = suffix
        self._keep_last = keep_last
        self._pat = re.compile(rf"^{_STATE_PREFIX}(\d+){re.escape(suffix)}$")

    @classmethod
    def for_sink(
        cls,
        what: str,
        state_dir: str,
        checkpoint_path: str,
        state_noun: str,
        lost_consequence: str,
        suffix: str = "",
        keep_last: int | None = None,
    ) -> "_BatchKeyedState":
        """Open ``state_dir`` for sink ``what``.

        A non-local ``state_dir`` refuses LOUDLY up front: listdir,
        atomic rename and rmtree have no direct HDFS/S3 equivalent, and
        os.makedirs('s3a://...') would create a literal local 's3a:'
        directory behind which every guard silently sees empty state.

        The state and the checkpoint share ONE lifetime: a fresh
        checkpoint over old state would restart batch ids at 0 and
        overwrite it, and a resumed checkpoint over a wiped state_dir
        would silently drop everything processed so far. Both
        mismatches raise before any query starts."""
        store = cls(state_dir, suffix, keep_last)
        if store._local is None:
            raise ValueError(
                f"{what}: state_dir {state_dir!r} is not a local filesystem "
                "path — state I/O uses os-level operations (atomic rename for "
                "crash consistency); point state_dir at node-local or mounted "
                "storage and sync snapshots to shared storage downstream"
            )
        os.makedirs(store._local, exist_ok=True)
        fresh, has_state = _checkpoint_is_fresh(checkpoint_path), bool(store.ids())
        if fresh and has_state:
            raise ValueError(
                f"{what}: checkpoint {checkpoint_path!r} is fresh but "
                f"state_dir {state_dir!r} holds {state_noun} from a previous "
                "checkpoint lifetime — use a fresh state_dir, or restore "
                "the original checkpoint."
            )
        if fresh is False and not has_state:
            raise ValueError(
                f"{what}: checkpoint {checkpoint_path!r} is resuming but "
                f"state_dir {state_dir!r} has no {state_noun} — "
                f"{lost_consequence}. Restore the state files or start over "
                "with a fresh checkpoint."
            )
        return store

    def _name(self, batch_id: int) -> str:
        return f"{_STATE_PREFIX}{batch_id}{self._suffix}"

    def ids(self, below: int | None = None) -> list[int]:
        """Committed batch ids, ascending (only those < ``below``);
        empty when the directory is missing — a sink that never ran is
        an answerable question, not an OSError."""
        if self._local is None or not os.path.isdir(self._local):
            return []
        return sorted(
            int(m.group(1))
            for n in os.listdir(self._local)
            if (m := self._pat.match(n)) and (below is None or int(m.group(1)) < below)
        )

    def newest(self, below: int | None = None) -> int | None:
        ids = self.ids(below)
        return ids[-1] if ids else None

    def path(self, batch_id: int, part: str | None = None, tmp: bool = False) -> str:
        """Spark-facing path of batch ``batch_id``'s state (its ``part``)."""
        p = os.path.join(self._dir, self._name(batch_id) + (".tmp" if tmp else ""))
        return os.path.join(p, part) if part else p

    def read(self, spark: SparkSession, batch_id: int | None, part: str | None = None):
        """Batch ``batch_id``'s state frame (its ``part``); None for a
        None id, so ``read(spark, newest(...))`` needs no branch."""
        if batch_id is None:
            return None
        return spark.read.parquet(self.path(batch_id, part))

    def read_bytes(self, batch_id: int | None) -> bytes | None:
        if batch_id is None:
            return None
        with open(os.path.join(self._local, self._name(batch_id)), "rb") as f:
            return f.read()

    def commit(self, batch_id: int, state) -> None:
        """Commit batch ``batch_id``'s state: ``bytes`` (one file), a
        DataFrame, or a dict of named DataFrame parts."""
        final = os.path.join(self._local, self._name(batch_id))
        tmp = final + ".tmp"
        if isinstance(state, bytes):
            with open(tmp, "wb") as f:
                f.write(state)
        else:
            parts = state.items() if isinstance(state, dict) else [(None, state)]
            for part, frame in parts:
                frame.write.mode("overwrite").parquet(self.path(batch_id, part, tmp=True))
        # replace atomically-enough: a crash between rmtree and rename
        # loses only state N, which the replayed batch N re-derives
        # from state N-1
        if os.path.isdir(final):
            shutil.rmtree(final)
        os.replace(tmp, final)
        if self._keep_last:
            for old in self.ids()[: -self._keep_last]:
                path = os.path.join(self._local, self._name(old))
                if os.path.isdir(path):
                    shutil.rmtree(path, ignore_errors=True)
                else:
                    os.remove(path)


def _newest_state(spark: SparkSession, state_dir: str):
    """The newest state frame in a single-frame sink's ``state_dir``
    (None if missing/empty)."""
    store = _BatchKeyedState(state_dir)
    return store.read(spark, store.newest())


def _points_and_carry(spark: SparkSession, state_dir: str):
    """(points, carry) from a carry sink's state dir: points = the
    union of every batch's emitted rows (replays overwrite their own
    batch entry, so the union is consistent), carry = the newest
    per-key running state; (None, None) if missing/empty."""
    store = _BatchKeyedState(state_dir)
    ids = store.ids()
    if not ids:
        return None, None
    points = spark.read.parquet(*[store.path(i, "points") for i in ids])
    return points, store.read(spark, ids[-1], "carry")


def _refuse_late_rows(what: str, src: DataFrame, carry: DataFrame) -> None:
    """The in-order contract every carry sink shares: a key's batch
    event at or before its carried ``last_ts`` is refused — folding it
    would fabricate an order no replay could reproduce."""
    late = (
        src.groupBy("key")
        .agg(F.min("ts").alias("__first"))
        .join(carry.select("key", "last_ts"), "key")
        .filter(F.col("__first") <= F.col("last_ts"))
        .limit(1)
        .collect()
    )
    if late:
        raise ValueError(
            f"{what}: key {late[0]['key']!r} has a batch event at "
            f"{late[0]['__first']} at or before its carried last_ts "
            f"{late[0]['last_ts']} — events must arrive in per-key "
            "time order; re-sequence or dedupe upstream"
        )


def stream_dedup_sink(
    df: DataFrame,
    store,
    target_path: str,
    checkpoint_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    fmt: str = "parquet",
):
    """Streaming incremental near-dedup: every micro-batch dedups
    against the persisted minhash ``SignatureStore`` (in-batch AND
    against all previously accepted documents), appends the survivors
    to ``target_path``, and appends their signatures to the store —
    the crawl-ingestion shape: files land, stream picks them up
    exactly once (checkpoint ledger), corpus stays near-dup-free
    without ever re-running LSH over it.

    Exactly-once: the checkpoint dedups *file pickup*, the store's
    same-id exclusion makes a replayed batch re-derive its ORIGINAL
    survivor set, and each batch lands in its own
    ``batch_id=N`` subdirectory via mode=overwrite — so a replay
    (crash before OR after the data write) rewrites the same
    subdirectory with identical content instead of appending a second
    copy. Readers scan ``target_path`` as one partitioned table (the
    batch_id partition column records provenance).

    ONE checkpoint lifetime per target (same hazard documented on
    ``windows.make_rollup_merger``): batch ids are assigned by the
    checkpoint, so a deleted/rebuilt checkpoint restarts them at 0 and
    would silently overwrite historical ``batch_id=N`` partitions
    while later ones survive — duplicates and lost provenance. A
    fresh checkpoint against a target that already has batch dirs is
    therefore refused; point the new checkpoint at a new target (or
    clear the old target deliberately).
    """
    _refuse_fresh_checkpoint_on_used_target(
        "stream_dedup_sink", checkpoint_path, target_path
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        kept = store.dedup_batch(batch_df, text_col, id_col)
        kept.write.mode("overwrite").format(fmt).save(
            os.path.join(target_path, f"batch_id={batch_id}")
        )

    return _run_foreach_batch(df, handle, checkpoint_path)


def stream_bloom_dedup_sink(
    df: DataFrame,
    key_col: str,
    state_dir: str,
    target_path: str,
    checkpoint_path: str,
    expected_items: int,
    fpp: float = 0.01,
    fmt: str = "parquet",
):
    """Streaming exact seen-set dedup: each micro-batch drops keys the
    persisted Bloom filter has ever accepted, writes the survivors to
    ``target_path/batch_id=N``, and persists the updated filter. The
    zero-shuffle sibling of `stream_dedup_sink` (which answers
    NEAR-duplicate questions via the signature store): one broadcast
    bitmap probe per batch, no join against a key store, ~``fpp`` of
    genuinely-new keys sacrificed.

    Replay-tolerant by construction: the filter state is persisted
    KEYED BY BATCH ID (``state_after_batch_N.bloom``), and batch N
    always loads the newest state with id < N — a replayed batch
    re-reads its original pre-state and re-derives the identical
    survivor set, then overwrites both its data partition and its
    state file with identical bytes. (Folding survivors into a single
    mutable state file would make a replayed batch see its own keys
    as seen and silently emit nothing.) Only the newest filter and
    its pre-state are kept, all a replay can read.

    Same ONE-checkpoint-lifetime-per-target contract as
    `stream_dedup_sink` (fresh checkpoint against a used target is
    refused)."""
    from d2d_spark.operators.bloom import (
        BloomFilter,
        bloom_dedup_incremental,
    )
    from d2d_spark.operators.sampling import cap_per_key

    _refuse_fresh_checkpoint_on_used_target(
        "stream_bloom_dedup_sink", checkpoint_path, target_path
    )
    state = _BatchKeyedState.for_sink(
        "stream_bloom_dedup_sink",
        state_dir,
        checkpoint_path,
        state_noun="filter state",
        lost_consequence="every historically-seen key would be re-admitted",
        suffix=".bloom",
        keep_last=2,
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        raw = state.read_bytes(state.newest(below=batch_id))
        prior = BloomFilter.from_bytes(raw) if raw is not None else None
        if prior is not None:
            # fail BEFORE writing the data partition if the sizing no
            # longer matches the persisted state
            if (prior.num_bits, prior.num_hashes) != BloomFilter.sizing(
                expected_items, fpp
            ):
                raise ValueError(
                    "stream_bloom_dedup_sink: expected_items/fpp changed "
                    "between runs — rebuild the seen-set state from history "
                    "instead of mixing filter shapes"
                )
        # in-batch dedup first (deterministic winner per key): the
        # prior filter only knows EARLIER batches, so same-batch
        # duplicates would otherwise all survive
        unique = cap_per_key(batch_df, key_col, max_rows=1)
        fresh, updated = bloom_dedup_incremental(
            unique, key_col, prior, expected_items, fpp
        )
        try:
            fresh.write.mode("overwrite").format(fmt).save(
                os.path.join(target_path, f"batch_id={batch_id}")
            )
            state.commit(batch_id, updated.to_bytes())
        finally:
            fresh.unpersist()

    return _run_foreach_batch(df, handle, checkpoint_path)


def stream_cms_sink(
    df: DataFrame,
    col: str,
    state_dir: str,
    checkpoint_path: str,
    depth: int = 4,
    width: int = 8192,
):
    """Maintain a corpus-wide count-min frequency sketch over a
    stream: each micro-batch's sketch (bounded: <= depth*width rows)
    merges into the persisted corpus sketch — counters are linear, so
    the stream-maintained state EXACTLY equals the batch sketch of
    everything ever seen (test-pinned). The streaming face of
    `operators/freq.py`, next to the Bloom sink: Bloom answers
    "seen before?", this answers "how often?" for token/domain/URL
    frequency monitoring without unbounded key state.

    Replay-tolerant like `stream_bloom_dedup_sink`, and by the same
    construction: state is persisted KEYED BY BATCH ID
    (``state_after_batch_N/`` parquet), batch N merges into the newest
    state with id < N, and a replayed batch re-derives byte-identical
    counters from its original pre-state (deterministic build) rather
    than double-counting into its own output. Same
    one-checkpoint-lifetime contract; shape changes between runs are
    refused (mixed-shape counters would be garbage)."""
    from d2d_spark.operators.freq import _shape_of, cms_build, cms_merge

    spark = df.sparkSession
    state = _BatchKeyedState.for_sink(
        "stream_cms_sink",
        state_dir,
        checkpoint_path,
        state_noun="sketch state",
        lost_consequence="counts from processed batches would be silently lost",
        keep_last=2,
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        prior = state.read(spark, state.newest(below=batch_id))
        sketch = cms_build(batch_df, col, depth=depth, width=width)
        if prior is not None:
            stamped = _shape_of(prior)
            if stamped is not None and stamped != (depth, width):
                raise ValueError(
                    "stream_cms_sink: depth/width changed between runs "
                    f"(state has {stamped}, sink asked for {(depth, width)}) "
                    "— rebuild the sketch state from history instead of "
                    "mixing shapes"
                )
            sketch = cms_merge(prior, sketch)
        state.commit(batch_id, sketch)

    return _run_foreach_batch(df, handle, checkpoint_path)


def latest_cms_state(spark: SparkSession, state_dir: str):
    """The newest persisted sketch from a `stream_cms_sink` state dir
    (None if missing/empty) — feed it to `operators/freq.cms_lookup`."""
    return _newest_state(spark, state_dir)


def stream_quantile_sink(
    df: DataFrame,
    col: str,
    state_dir: str,
    checkpoint_path: str,
):
    """Maintain EXACT corpus-wide quantile state over a stream — the
    continuous-percentile-monitoring sink next to the Bloom ("seen?")
    and count-min ("how often?") sinks: "what is the p99 of everything
    ever seen, right now?".

    State is the value-collapsed (value, count) frame — the SAME
    sufficient statistic the batch quantile family (quantiles_exact /
    weighted_quantiles_exact) reduces to before its distributed
    prefix-sum. Counts are linear, so per-batch collapse + merge makes
    the stream-maintained state EXACTLY the batch collapse of all data
    ever seen (test-pinned at every prefix), and
    `stream_quantiles(latest_quantile_state(...), probs)` returns the
    exact percentile_disc answer over the whole history — no sketch
    error. NULL values drop (they hold no rank), matching the batch
    operators' filter.

    State size = DISTINCT values seen, not rows — right for prices,
    latencies, scores and other quantized measures (bounded alphabet);
    for genuinely unbounded-cardinality columns quantize upstream or
    keep `operators/agg.sketch_quantiles` (KLL, fixed size, rank
    error) as the stated approximate path. This is deliberately the
    same exact-vs-sketch split as the dedup family.

    Replay-tolerant by the `stream_cms_sink` construction
    (`_BatchKeyedState`): state is persisted KEYED BY BATCH ID,
    batch N merges into the newest state with id < N, and a replayed
    batch re-derives byte-identical counts from its original pre-state
    instead of double-counting. Same one-checkpoint-lifetime contract,
    both refusal directions."""
    spark = df.sparkSession
    state = _BatchKeyedState.for_sink(
        "stream_quantile_sink",
        state_dir,
        checkpoint_path,
        state_noun="quantile state",
        lost_consequence="counts from processed batches would be silently lost",
        keep_last=2,
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        counts = (
            batch_df.filter(F.col(col).isNotNull())
            .groupBy(F.col(col).cast("double").alias("__v"))
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        prior = state.read(spark, state.newest(below=batch_id))
        if prior is not None:
            counts = (
                prior.unionByName(counts)
                .groupBy("__v")
                .agg(F.sum("__c").alias("__c"))
            )
        state.commit(batch_id, counts)

    return _run_foreach_batch(df, handle, checkpoint_path)


def latest_quantile_state(spark: SparkSession, state_dir: str):
    """The newest persisted (value, count) state from a
    `stream_quantile_sink` dir (None if missing/empty)."""
    return _newest_state(spark, state_dir)


def stream_quantiles(state: DataFrame, probs) -> DataFrame:
    """(p, value) — exact discrete quantiles of everything a
    `stream_quantile_sink` has seen: the state IS the (value, weight)
    input of `operators/quantiles.weighted_quantiles_exact`, whose
    inverse weighted CDF with integer counts equals percentile_disc
    over the raw history (unit-weight identity, test-pinned)."""
    from d2d_spark.operators.quantiles import weighted_quantiles_exact

    return weighted_quantiles_exact(state, "__v", "__c", probs)

def stream_apply_changes(
    changes: DataFrame,
    target: DataFrame,
    keys: list[str],
    seq_col: str,
    state_dir: str,
    checkpoint_path: str,
    op_col: str = "op",
    upsert_op: str = "u",
    delete_op: str = "d",
):
    """Streaming twin of `operators/writes.apply_changes` (the DLT
    APPLY CHANGES INTO shape) for a CONTINUOUS change feed: fold each
    micro-batch of upserts/deletes into a persisted target snapshot so
    that after any prefix of the op log — however it is split across
    batches, and whatever order batches deliver the sequence numbers —
    the snapshot EXACTLY equals the batch operator applied to the
    whole prefix (test-pinned).

    Cross-batch out-of-order arrivals are what make this more than a
    per-batch merge loop: state rows carry the winning sequence number
    (``__seq``) and deletes TOMBSTONE rather than drop (``__deleted``)
    — a seq-5 delete in batch 2 must still beat a seq-3 upsert that
    only arrives in batch 7, which a delete-forgets-the-key fold would
    silently resurrect. A change only lands if its seq exceeds the
    stored one; a seq equal to a key's STORED winner raises (duplicate
    sequencing is ill-defined, the batch operator's contract — with
    bounded state a duplicate of an already-superseded seq is
    indistinguishable from a fresh stale change and folds away
    harmlessly, so snapshot content still matches the batch fold).
    Bootstrap target rows hold a NULL ``__seq`` and lose to any change
    for their key.

    Replay-tolerant by the `stream_cms_sink` construction: state is
    keyed by batch id (``state_after_batch_N/``), batch N folds into
    the newest state with id < N, so a replayed batch re-derives its
    output from its original pre-state instead of double-applying.
    Only the newest snapshot and its pre-state are retained (all a
    replay can ever read) — unlike the sketch sinks' bounded counters
    this state is a full table copy, so unbounded retention would
    grow O(batches x table). Same one-checkpoint-lifetime contract.
    Read the current snapshot with `latest_cdc_snapshot`.

    Scale shape: per batch ONE window top-1 on the feed + ONE
    key-equi full-outer join against the snapshot (full outer cannot
    broadcast, but the feed side is micro-batch-sized, so the shuffle
    moves the snapshot once and AQE coalesces the rest); state is the
    table itself plus two bookkeeping columns — no per-key executor
    state store, so the table can be arbitrarily wider than memory.
    ``state_dir`` must be a LOCAL filesystem path (enforced loudly —
    commits use os-level atomic rename, which has no HDFS/S3
    equivalent here); at warehouse scale keep state on driver-local
    or mounted storage, partition the snapshot write by a stable key
    prefix, and sync the published snapshot to shared storage
    downstream."""
    from pyspark.sql.window import Window

    if not keys:
        raise ValueError("stream_apply_changes: need at least one key column")
    for c in ("__seq", "__deleted"):
        if c in target.columns:
            raise ValueError(
                f"stream_apply_changes: target column {c!r} collides with "
                "the snapshot bookkeeping columns — rename it upstream"
            )
    payload = [c for c in target.columns if c not in keys]
    missing = [c for c in keys + payload + [seq_col, op_col] if c not in changes.columns]
    if missing:
        raise ValueError(f"stream_apply_changes: changes feed lacks columns {missing}")

    spark = target.sparkSession
    store = _BatchKeyedState.for_sink(
        "stream_apply_changes",
        state_dir,
        checkpoint_path,
        state_noun="snapshot state",
        lost_consequence="changes from processed batches would be silently lost",
        keep_last=2,
    )
    seq_type = changes.schema[seq_col].dataType

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        # three actions read this micro-batch (stats, dup probe, fold)
        # — persist once instead of re-reading the source files thrice
        batch_df = batch_df.persist()
        try:
            _fold_batch(batch_df, batch_id)
        finally:
            batch_df.unpersist(blocking=False)

    def _fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        state = store.read(spark, store.newest(below=batch_id))
        if state is None:
            state = target.select(
                *keys,
                *payload,
                F.lit(None).cast(seq_type).alias("__seq"),
                F.lit(False).alias("__deleted"),
            )
        stats = batch_df.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(*[F.col(c) for c in keys + [seq_col]]).alias("nk"),
            F.sum((~F.col(op_col).isin(upsert_op, delete_op)).cast("int")).alias(
                "badop"
            ),
        ).collect()[0]
        if stats["n"] == 0:
            wins = None
        else:
            if stats["badop"]:
                raise ValueError(
                    f"stream_apply_changes: {stats['badop']} rows in batch "
                    f"{batch_id} have ops outside ({upsert_op!r}, {delete_op!r})"
                )
            if stats["nk"] != stats["n"]:
                raise ValueError(
                    f"stream_apply_changes: duplicate (key, sequence) rows in "
                    f"batch {batch_id} — 'latest change wins' is ill-defined"
                )
            w = Window.partitionBy(*keys).orderBy(F.col(seq_col).desc())
            wins = (
                batch_df.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .select(
                    *keys,
                    *payload,
                    F.col(seq_col).alias("__seq"),
                    (F.col(op_col) == F.lit(delete_op)).alias("__deleted"),
                )
            )
        if wins is None:
            nxt = state
        else:
            # EVERY batch row (not just the per-key winner — a dup can
            # ride in alongside a higher seq that would hide it) checks
            # against the key's stored winning seq. Bounded state can
            # only remember the winner: a duplicate of an already-
            # SUPERSEDED seq is indistinguishable from a fresh stale
            # change and folds away harmlessly (it can never win), so
            # snapshot content still equals the batch fold; only the
            # batch operator's whole-history duplicate raise is
            # necessarily weakened to winner-duplicates here.
            dup = (
                batch_df.select(*keys, F.col(seq_col).alias("__bseq"))
                .join(state.select(*keys, "__seq"), keys)
                .filter(F.col("__bseq") == F.col("__seq"))
                .limit(1)
                .collect()
            )
            if dup:
                raise ValueError(
                    "stream_apply_changes: a change in batch "
                    f"{batch_id} repeats an already-applied (key, sequence) "
                    f"({tuple(dup[0][k] for k in keys)}, seq "
                    f"{dup[0]['__seq']}) — duplicate sequencing upstream"
                )
            s, t = wins.alias("s"), state.alias("t")
            j = t.join(s, keys, "full_outer")
            s_wins = F.col("t.__seq").isNull() | (
                F.col("s.__seq") > F.col("t.__seq")
            )
            take_s = F.col("s.__seq").isNotNull() & (
                F.col("t.__deleted").isNull() | s_wins
            )
            nxt = j.select(
                *[F.coalesce(F.col(f"t.{k}"), F.col(f"s.{k}")).alias(k) for k in keys],
                *[
                    F.when(take_s, F.col(f"s.{c}"))
                    .otherwise(F.col(f"t.{c}"))
                    .alias(c)
                    for c in payload
                ],
                F.when(take_s, F.col("s.__seq"))
                .otherwise(F.col("t.__seq"))
                .alias("__seq"),
                F.when(take_s, F.col("s.__deleted"))
                .otherwise(F.col("t.__deleted"))
                .alias("__deleted"),
            )
        store.commit(batch_id, nxt)

    return _run_foreach_batch(changes, handle, checkpoint_path)


def latest_cdc_snapshot(spark: SparkSession, state_dir: str):
    """The current target snapshot from a `stream_apply_changes`
    state dir (None if missing/empty): the newest state minus
    tombstones and bookkeeping — row-for-row what batch
    `apply_changes` over the whole feed so far would return."""
    state = _newest_state(spark, state_dir)
    if state is None:
        return None
    return state.filter(~F.col("__deleted")).drop("__seq", "__deleted")


def stream_scd2_apply(
    snapshots: DataFrame,
    key_cols: list[str],
    ts_col: str,
    tracked_cols: list[str],
    state_dir: str,
    checkpoint_path: str,
    history: DataFrame | None = None,
):
    """Streaming twin of `operators/scd.scd2_apply`: fold each
    micro-batch of dimension snapshots into a persisted TYPE-2
    HISTORY, so after any prefix of the snapshot log — however it is
    split across batches, whatever order batches deliver the
    timestamps — the stored history EXACTLY equals batch
    `scd2_history` over the union of all rows so far (test-pinned).

    The fold is `scd2_apply`, which is a REPLAY (history rows convert
    back to change events and rebuild with the batch through
    `scd2_history`): replay idempotence is what makes the streaming
    fold correct by construction — apply(apply(H, B1), B2) =
    scd2_history(events(H) ∪ B1 ∪ B2) — and is also what makes a
    foreachBatch REPLAY safe once state is keyed by batch id (batch N
    folds into the newest state with id < N, the
    `stream_apply_changes` construction, so a re-delivered batch
    re-derives its output from its original pre-state).

    A (key, ts) collision with DIFFERENT tracked attributes — within
    the batch, or between the batch and the stored runs — is refused
    loudly (the window order between the two versions would be
    arbitrary, so stream and batch could legitimately disagree); an
    exact duplicate row collapses harmlessly, the batch operator's
    documented idempotence. The guard is as strong as bounded state
    allows, the `stream_apply_changes` weakening: state stores one
    event per attribute RUN, so a conflicting row at a timestamp that
    COLLAPSED into a run's interior (same-attr repeat whose event the
    rebuild discarded) is indistinguishable from a fresh late version
    and folds deterministically instead of raising. Duplicate
    timestamps per key violate the CDC contract both operators
    document — batch `scd2_apply` orders them arbitrarily too, so
    there is no defined batch result to diverge from; keep per-key
    timestamps unique upstream and the refusal is airtight.

    ``history`` bootstraps from an existing type-2 history frame
    (columns: keys + tracked + valid_from/valid_to/is_current);
    default empty. ``state_dir`` must be a LOCAL path (os-level
    atomic-rename commits — the stateful-sink constraint). Only the
    newest snapshot and its pre-state are retained. Read the current
    history with `latest_scd2_history`. Scale shape per batch: one
    key-partitioned window over runs + batch (history stores RUNS,
    bounded by change count, not raw events), one duplicate-probe
    aggregate."""
    from d2d_spark.operators.scd import scd2_apply

    if not key_cols or not tracked_cols:
        raise ValueError("stream_scd2_apply: key_cols and tracked_cols must be non-empty")
    needed = [*key_cols, *tracked_cols, ts_col]
    missing = [c for c in needed if c not in snapshots.columns]
    if missing:
        raise ValueError(f"stream_scd2_apply: snapshot feed lacks columns {missing}")

    spark = snapshots.sparkSession
    store = _BatchKeyedState.for_sink(
        "stream_scd2_apply",
        state_dir,
        checkpoint_path,
        state_noun="history state",
        lost_consequence="snapshots from processed batches would be silently lost",
        keep_last=2,
    )
    ts_type = snapshots.schema[ts_col].dataType

    def _bootstrap() -> DataFrame:
        if history is not None:
            return history
        return (
            spark.createDataFrame([], snapshots.schema)
            .select(*key_cols, *tracked_cols)
            .withColumn("valid_from", F.lit(None).cast(ts_type))
            .withColumn("valid_to", F.lit(None).cast(ts_type))
            .withColumn("is_current", F.lit(True))
        )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()
        try:
            _fold_batch(batch_df, batch_id)
        finally:
            batch_df.unpersist(blocking=False)

    def _fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        state = store.read(spark, store.newest(below=batch_id))
        if state is None:
            state = _bootstrap()
        batch = batch_df.select(*key_cols, *tracked_cols, F.col(ts_col))
        # loud (key, ts)-collision guard: union the batch with the
        # stored runs-as-events and refuse any (key, ts) carrying two
        # DISTINCT tracked structs — their window order would be
        # arbitrary and stream/batch could legitimately diverge.
        # Exact duplicates collapse in the rebuild (idempotence).
        events = state.select(
            *key_cols, *tracked_cols, F.col("valid_from").alias(ts_col)
        ).unionByName(batch)
        st = F.struct(*[F.col(c) for c in tracked_cols])
        clash = (
            events.groupBy(*key_cols, ts_col)
            .agg(F.count_distinct(st).alias("__nv"))
            .filter(F.col("__nv") > 1)
            .limit(1)
            .collect()
        )
        if clash:
            raise ValueError(
                f"stream_scd2_apply: batch {batch_id} carries a (key, "
                f"{ts_col}) already present with different tracked "
                f"attributes ({tuple(clash[0][k] for k in key_cols)}, "
                f"{clash[0][ts_col]!r}) — version order would be arbitrary; "
                "fix the snapshot source's timestamping"
            )
        store.commit(batch_id, scd2_apply(state, batch, key_cols, ts_col, tracked_cols))

    return _run_foreach_batch(snapshots, handle, checkpoint_path)


def latest_scd2_history(spark: SparkSession, state_dir: str):
    """The current type-2 history from a `stream_scd2_apply` state
    dir (None if missing/empty) — row-for-row what batch
    `scd2_history` over every snapshot folded so far would return."""
    return _newest_state(spark, state_dir)


def stream_transition_sink(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    state_col: str,
    state_dir: str,
    checkpoint_path: str,
    tiebreak_cols=(),
):
    """Maintain the first-order Markov transition matrix
    (operators/paths.transition_counts, include_endpoints=False)
    CONTINUOUSLY over a stream: per micro-batch, within-batch
    transitions count via the batch operator, cross-batch transitions
    stitch through a per-key carry of the last seen (ts, state), and
    both fold into batch-id-keyed persisted state — so the
    stream-maintained counts EXACTLY equal the batch operator over
    everything seen (test-pinned at every drop prefix).

    In-order contract (the stateful_funnel discipline): each key's
    events must arrive in non-decreasing batch time — a batch row at
    or before the key's carried last_ts is REFUSED loudly (counting
    it would fabricate a transition order no replay could reproduce);
    dedupe or re-sequence upstream. Virtual __START__/__END__
    endpoints are a batch-only feature — __END__ is not incrementally
    stable (every new event moves it).

    Replay discipline: state (counts + carry) is keyed by batch id;
    batch N folds the newest state with id < N, so foreachBatch
    re-delivery re-derives byte-identical state from the original
    pre-state instead of double-counting. Same one-checkpoint-lifetime
    refusals as the Bloom/CMS/CDC sinks. State size: |observed state
    alphabet|² counts + one carry row per key — bounded by key
    cardinality, not event count."""
    from d2d_spark.operators.paths import transition_counts

    spark = df.sparkSession
    store = _BatchKeyedState.for_sink(
        "stream_transition_sink",
        state_dir,
        checkpoint_path,
        state_noun="transition state",
        lost_consequence="counts from processed batches would be silently lost",
        keep_last=2,
    )
    ties = list(tiebreak_cols)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        prior = store.newest(below=batch_id)
        prior_counts = store.read(spark, prior, "counts")
        prior_carry = store.read(spark, prior, "carry")
        # within-batch transitions (the batch operator, probe ON — it
        # owns the NULL/tie refusals)
        within = transition_counts(
            batch_df, key_col, ts_col, state_col, tiebreak_cols=ties
        )
        key = F.col(key_col).cast("string").alias("__k")
        order_tuple = F.struct(
            F.col(ts_col).alias("__ts"),
            *[F.col(c) for c in ties],
            F.col(state_col).cast("string").alias("__s"),
        )
        ends = batch_df.groupBy(key).agg(
            F.min(order_tuple).alias("__first"), F.max(order_tuple).alias("__last")
        )
        if prior_carry is not None:
            # in-order refusal: a batch row at or before the carry
            late = (
                ends.join(prior_carry, ends["__k"] == prior_carry["key"])
                .filter(F.col("__first.__ts") <= F.col("last_ts"))
                .limit(1)
                .collect()
            )
            if late:
                raise ValueError(
                    f"stream_transition_sink: key {late[0]['key']!r} has a "
                    f"batch event at {late[0]['__first']['__ts']} at or "
                    f"before its carried last_ts {late[0]['last_ts']} — "
                    "events must arrive in per-key time order; re-sequence "
                    "or dedupe upstream"
                )
            cross = (
                prior_carry.join(ends, ends["__k"] == prior_carry["key"])
                .select(
                    F.col("last_state").alias("from_state"),
                    F.col("__first.__s").alias("to_state"),
                )
                .groupBy("from_state", "to_state")
                .agg(F.count(F.lit(1)).alias("n"))
            )
            within = (
                within.unionByName(cross)
                .groupBy("from_state", "to_state")
                .agg(F.sum("n").alias("n"))
            )
        counts = within
        if prior_counts is not None:
            counts = (
                prior_counts.unionByName(within)
                .groupBy("from_state", "to_state")
                .agg(F.sum("n").alias("n"))
            )
        carry = ends.select(
            F.col("__k").alias("key"),
            F.col("__last.__ts").alias("last_ts"),
            F.col("__last.__s").alias("last_state"),
        )
        if prior_carry is not None:
            untouched = prior_carry.join(
                ends.select(F.col("__k").alias("key")), "key", "left_anti"
            )
            carry = untouched.unionByName(carry)
        store.commit(batch_id, {"counts": counts, "carry": carry})

    return _run_foreach_batch(df, handle, checkpoint_path)


def latest_transition_state(spark: SparkSession, state_dir: str):
    """(counts, carry) from the newest `stream_transition_sink` state
    — counts feeds `operators/paths.transition_probs` directly;
    (None, None) if missing/empty."""
    store = _BatchKeyedState(state_dir)
    newest = store.newest()
    return store.read(spark, newest, "counts"), store.read(spark, newest, "carry")


def stream_ewma_sink(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float,
    state_dir: str,
    checkpoint_path: str,
):
    """Maintain per-key EWMAs CONTINUOUSLY over a stream: each
    micro-batch folds through the batch operator
    (operators/timeseries.ewma) seeded by the per-key carry — the
    recurrence composes exactly (run(b1) ∘ run(b2) ≡ run(b1 ∪ b2)), so
    the stream-emitted points are bit-identical to the batch EWMA over
    everything seen (test-pinned at every drop prefix). The continuous
    twin of the rolling/EWMA family, next to the transition-matrix
    sink.

    The `_series_carry_sink` fold with state ``ewma``: late rows (a
    key's event at or before its carried last_ts) are REFUSED loudly;
    the batch's (key, ts, val, ewma) points persist under the batch id
    (``points``) with the updated carry (key, last_ts, ewma) beside
    them (``carry``). A NULL value leaves the carry's EWMA untouched
    but still advances last_ts. State: ONE carry row per key."""
    from d2d_spark.operators.timeseries import ewma as _ewma

    if not (0.0 < alpha <= 1.0):
        raise ValueError(f"stream_ewma_sink: alpha must be in (0, 1], got {alpha}")

    def run_batch(src, seed):
        return _ewma(src, ["key"], "ts", "val", alpha, init=seed)

    return _series_carry_sink(
        df, "stream_ewma_sink", key_col, ts_col, value_col, state_dir,
        checkpoint_path, run_batch, ("ewma",), state_noun="EWMA state",
    )


def ewma_stream_state(spark: SparkSession, state_dir: str):
    """(points, carry) from a `stream_ewma_sink` state dir: points =
    the union of every batch's emitted rows (replays overwrite their
    own batch dir, so the union is consistent), carry = the newest
    per-key running state; (None, None) if missing/empty."""
    return _points_and_carry(spark, state_dir)


def stream_attribution_sink(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    state_col: str,
    conversion_states,
    touch_states,
    state_dir: str,
    checkpoint_path: str,
    lookback: str | None = None,
    include_unattributed: bool = False,
):
    """Maintain LAST-TOUCH attribution continuously over an event
    stream — the streaming twin of operators/attribution.attribution
    (model='last_touch' is the one model whose sufficient state is a
    single row per key: only the LATEST qualifying touch can ever win
    a future conversion, and if the latest is outside the lookback so
    is every older one; first/linear/decay/position need the full
    window and stay batch). Stream output ≡ the batch operator over
    everything seen, at every prefix (test-pinned).

    Per batch: the carried latest touch per key re-enters as a
    synthetic touch row, the batch operator runs over carry ∪ batch,
    attributed conversions persist under the batch id (``points``)
    and the new carry (key, last_ts, touch_ts, touch_state) replaces
    the old. Late rows (a key's event at or before its carried
    last_ts) are refused loudly — the in-order contract every carry
    sink shares; same batch-id-keyed replay + one-checkpoint-lifetime
    refusals as the Bloom/CMS/CDC/SCD2/EWMA/transition sinks. State:
    ONE row per key."""
    from d2d_spark.operators.attribution import attribution as batch_attribution

    spark = df.sparkSession
    store = _BatchKeyedState.for_sink(
        "stream_attribution_sink",
        state_dir,
        checkpoint_path,
        state_noun="attribution state",
        lost_consequence="carried touches from processed batches would be silently lost",
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        carry = store.read(spark, store.newest(below=batch_id), "carry")
        src = batch_df.select(
            F.col(key_col).alias("key"),
            F.col(ts_col).alias("ts"),
            F.col(state_col).alias("state"),
        )
        if carry is not None:
            _refuse_late_rows("stream_attribution_sink", src, carry)
            synth = carry.filter(F.col("touch_ts").isNotNull()).select(
                "key",
                F.col("touch_ts").alias("ts"),
                F.col("touch_state").alias("state"),
            )
            folded = src.unionByName(synth)
        else:
            folded = src
        pts = batch_attribution(
            folded,
            "key",
            "ts",
            "state",
            conversion_states,
            touch_states,
            model="last_touch",
            lookback=lookback,
            include_unattributed=include_unattributed,
            # validate=True: the synthetic carry rows can never collide
            # (one per key, strictly before every batch event by the
            # late check), so the probe still catches in-batch ties and
            # NULLs — the same per-batch cost the EWMA sink pays
        )
        # conversions are batch rows only (the synthetic carry row is
        # always a touch), so pts is exactly this batch's output
        tch = folded.filter(F.col("state").isin(list(touch_states)))
        new_touch = tch.groupBy("key").agg(
            F.max(F.struct("ts", "state")).alias("__t")
        ).select(
            "key",
            F.col("__t.ts").alias("touch_ts"),
            F.col("__t.state").alias("touch_state"),
        )
        batch_last = src.groupBy("key").agg(F.max("ts").alias("last_ts"))
        new_carry = batch_last.join(new_touch, "key", "left")
        if carry is not None:
            new_carry = (
                carry.select(
                    "key",
                    F.col("last_ts").alias("__plast"),
                    F.col("touch_ts").alias("__pt"),
                    F.col("touch_state").alias("__ps"),
                )
                .join(new_carry, "key", "full")
                .select(
                    "key",
                    F.greatest(F.col("last_ts"), F.col("__plast")).alias("last_ts"),
                    F.coalesce("touch_ts", "__pt").alias("touch_ts"),
                    F.coalesce(
                        F.when(F.col("touch_ts").isNotNull(), F.col("touch_state")),
                        F.col("__ps"),
                    ).alias("touch_state"),
                )
            )
        store.commit(batch_id, {"points": pts, "carry": new_carry})

    return _run_foreach_batch(df, handle, checkpoint_path)


def attribution_stream_state(spark: SparkSession, state_dir: str):
    """(points, carry) from a `stream_attribution_sink` state dir —
    points = every batch's attributed conversions (batch dirs are
    replay-overwritten, so the union is consistent), carry = the
    newest per-key latest-touch state; (None, None) if missing/empty."""
    return _points_and_carry(spark, state_dir)


def _series_carry_sink(
    df: DataFrame,
    what: str,
    key_col: str,
    ts_col: str,
    value_col: str,
    state_dir: str,
    checkpoint_path: str,
    run_batch,
    state_cols: tuple,
    state_noun: str = "state",
):
    """Shared machinery for the sequential-fold carry sinks (ewma,
    holt, cusum): per batch, refuse late rows, run the BATCH operator
    ``run_batch(src, seed)`` over (key, ts, val) seeded by the carried
    per-key state, persist the batch's points under the batch id with
    the updated carry beside them. Carry = (key, last_ts, *state_cols)
    where the state is the last NON-NULL state row (a NULL input value
    leaves fold state untouched but advances last_ts). Same
    batch-id-keyed replay + one-checkpoint-lifetime refusals as every
    other sink."""
    spark = df.sparkSession
    store = _BatchKeyedState.for_sink(
        what,
        state_dir,
        checkpoint_path,
        state_noun=state_noun,
        lost_consequence="running folds from processed batches would be silently lost",
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        carry = store.read(spark, store.newest(below=batch_id), "carry")
        src = batch_df.select(
            F.col(key_col).alias("key"),
            F.col(ts_col).alias("ts"),
            F.col(value_col).alias("val"),
        )
        if carry is not None:
            _refuse_late_rows(what, src, carry)
        seed = carry.select("key", *state_cols) if carry is not None else None
        pts = run_batch(src, seed)
        state_struct = F.struct(*[F.col(c) for c in state_cols])
        new_carry = pts.groupBy("key").agg(
            F.max("ts").alias("last_ts"),
            F.max(
                F.when(F.col(state_cols[0]).isNotNull(), F.struct(F.col("ts"), state_struct.alias("s")))
            )["s"].alias("__last_s"),
        )
        if carry is not None:
            prior_struct = F.struct(*[F.col(c) for c in state_cols]).alias("__prior")
            new_carry = new_carry.join(
                carry.select("key", prior_struct), "key", "left"
            ).select(
                "key",
                "last_ts",
                *[
                    F.coalesce(F.col(f"__last_s.{c}"), F.col(f"__prior.{c}")).alias(c)
                    for c in state_cols
                ],
            )
            untouched = carry.join(new_carry.select("key"), "key", "left_anti")
            new_carry = untouched.unionByName(new_carry)
        else:
            new_carry = new_carry.select(
                "key", "last_ts",
                *[F.col(f"__last_s.{c}").alias(c) for c in state_cols],
            )
        store.commit(batch_id, {"points": pts, "carry": new_carry})

    return _run_foreach_batch(df, handle, checkpoint_path)


def stream_holt_sink(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float,
    beta: float,
    state_dir: str,
    checkpoint_path: str,
):
    """Maintain per-key Holt level+trend CONTINUOUSLY over a stream —
    the trend-aware sibling of stream_ewma_sink: each micro-batch
    folds through operators/timeseries.holt_linear seeded by the
    carried (level, trend), which composes exactly, so stream points
    are bit-identical to the batch fold over everything seen
    (test-pinned at every prefix). State: ONE carry row per key."""
    from d2d_spark.operators.timeseries import holt_linear as _holt

    for name, v in (("alpha", alpha), ("beta", beta)):
        if not (0.0 < v <= 1.0):
            raise ValueError(f"stream_holt_sink: {name} must be in (0, 1], got {v}")

    def run_batch(src, seed):
        return _holt(src, ["key"], "ts", "val", alpha, beta, init=seed)

    return _series_carry_sink(
        df, "stream_holt_sink", key_col, ts_col, value_col, state_dir,
        checkpoint_path, run_batch, ("level", "trend"),
    )


def stream_cusum_sink(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    target: float,
    state_dir: str,
    checkpoint_path: str,
    slack: float = 0.5,
    threshold: float = 5.0,
):
    """Maintain per-key two-sided CUSUM shift sums CONTINUOUSLY — the
    streaming change detector: each micro-batch folds through
    operators/timeseries.cusum_changepoints seeded by the carried
    (cusum_pos, cusum_neg); stream points (including is_shift flags)
    are bit-identical to the batch fold over everything seen
    (test-pinned at every prefix). State: ONE carry row per key."""
    from d2d_spark.operators.timeseries import cusum_changepoints as _cusum

    def run_batch(src, seed):
        return _cusum(
            src, ["key"], "ts", "val", target=target, slack=slack,
            threshold=threshold, init=seed,
        )

    return _series_carry_sink(
        df, "stream_cusum_sink", key_col, ts_col, value_col, state_dir,
        checkpoint_path, run_batch, ("cusum_pos", "cusum_neg"),
    )


def series_stream_state(spark: SparkSession, state_dir: str):
    """(points, carry) from a holt/cusum carry-sink state dir — the
    shared reader (same layout as ewma_stream_state)."""
    return _points_and_carry(spark, state_dir)


def stream_psi_sink(
    df: DataFrame,
    value_col: str,
    breakpoints: list,
    ref_shares: list,
    state_dir: str,
    checkpoint_path: str,
    smoothing: float = 1e-6,
):
    """Continuous drift monitoring: per micro-batch, the population-
    stability index of BOTH the batch alone and the cumulative stream
    so far against a pinned reference distribution — the streaming
    twin of profile.population_stability_index (pinned breakpoints
    are the whole point here: the reference must not move with the
    drift it measures). ``ref_shares`` = the reference's bin shares,
    len(breakpoints) + 1, e.g. the `bins` field of a batch PSI run.

    State: ONE row per bin (cumulative counts — counts add, so the
    cumulative PSI equals the batch operator over everything seen,
    test-pinned at every prefix). Each batch persists its
    (bin, batch_count, cum_count) rows plus a (psi_batch, psi_cum)
    summary under the batch id; the usual replay + checkpoint-lifetime
    refusals apply. NULL values drop, matching the batch operator."""
    import math

    if smoothing <= 0.0:
        raise ValueError(f"stream_psi_sink: smoothing must be > 0, got {smoothing}")
    bps = sorted(float(b) for b in breakpoints)
    if not bps:
        raise ValueError("stream_psi_sink: breakpoints must be non-empty")
    nb = len(bps) + 1
    shares = [float(s0) for s0 in ref_shares]
    if len(shares) != nb or any(s0 < 0 for s0 in shares):
        raise ValueError(
            f"stream_psi_sink: ref_shares must be {nb} non-negative bin "
            "shares (len(breakpoints) + 1)"
        )
    spark = df.sparkSession
    store = _BatchKeyedState.for_sink(
        "stream_psi_sink",
        state_dir,
        checkpoint_path,
        state_noun="drift state",
        lost_consequence="cumulative counts from processed batches would be silently lost",
        keep_last=2,
    )

    def _psi(counts: list) -> float | None:
        n = sum(counts)
        if n == 0:
            return None
        out = 0.0
        for i in range(nb):
            p = max(shares[i], smoothing)
            q = max(counts[i] / n, smoothing)
            out += (p - q) * math.log(p / q)
        return out

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        cum = [0] * nb
        prior = store.read(spark, store.newest(below=batch_id), "bins")
        if prior is not None:
            for r in prior.collect():
                cum[int(r["bin"])] = int(r["cum_count"])
        arr = F.array(*[F.lit(b) for b in bps])
        bucket = F.aggregate(
            arr, F.lit(0), lambda acc, b: acc + (F.col(value_col) > b).cast("int")
        )
        got = {
            int(r["b"]): int(r["c"])
            for r in batch_df.filter(F.col(value_col).isNotNull())
            .groupBy(bucket.alias("b"))
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        }
        batch_counts = [got.get(i, 0) for i in range(nb)]
        new_cum = [cum[i] + batch_counts[i] for i in range(nb)]
        bins_df = spark.createDataFrame(
            [(i, batch_counts[i], new_cum[i]) for i in range(nb)],
            "bin int, batch_count long, cum_count long",
        )
        psi_df = spark.createDataFrame(
            [(_psi(batch_counts), _psi(new_cum))], "psi_batch double, psi_cum double"
        )
        store.commit(batch_id, {"bins": bins_df.coalesce(1), "psi": psi_df.coalesce(1)})

    return _run_foreach_batch(df, handle, checkpoint_path)


def psi_stream_state(spark: SparkSession, state_dir: str):
    """(bins, psi) from the newest stream_psi_sink state; (None, None)
    if missing/empty."""
    store = _BatchKeyedState(state_dir)
    newest = store.newest()
    return store.read(spark, newest, "bins"), store.read(spark, newest, "psi")
