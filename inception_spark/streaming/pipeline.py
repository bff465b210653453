"""Structured Streaming surface.

The reference processes independent HTTP requests — in Spark terms, an
unbounded stream of documents (SURVEY.md §7.2.8).  Because the batch
operators (clean → chunk → embed) are stateless column transforms, they
compose with ``readStream`` unchanged; this module adds the streaming-only
concerns: sources, watermarks, windowed/session aggregation, and sinks.

Scale design: the chunk/embed UDFs run per micro-batch with the same
executor-cached singletons as batch; watermark + append mode keeps state
bounded; ``foreachBatch`` gives exactly-once parquet output with the batch
writer (idempotent by batch id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from inception_spark.config import DEFAULT_CONFIG, EngineConfig
from inception_spark.operators.encoding import make_embed_udf

#: schema for streaming document sources (files dropped into a directory,
#: Kafka value payloads, etc.) — TextRequest + event time.
STREAM_DOCUMENTS = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("event_time", T.TimestampType(), True),
    ]
)

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("user_id", T.LongType(), False),
        T.StructField("event_type", T.StringType(), False),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def read_document_stream(
    spark: SparkSession, path: str, fmt: str = "json"
) -> DataFrame:
    """File-drop document source (the streaming analogue of the batch
    endpoint S1): each file is a batch of TextRequest rows."""
    return (
        spark.readStream.schema(STREAM_DOCUMENTS)
        .format(fmt)
        .option("maxFilesPerTrigger", 16)
        .load(path)
    )


def embed_document_stream(
    stream: DataFrame, config: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Streaming clean-skip → chunk → embed (same semantics as
    EmbeddingEngine.embed_documents; validation quarantine upstream).
    Reuses the batch chunk_documents so the chunk-row contract can't
    drift between the two paths; event_time rides through."""
    from inception_spark.operators.chunking import chunk_documents

    chunks = chunk_documents(
        stream, config, passthrough_cols=("event_time",)
    )
    return chunks.withColumn("embedding", make_embed_udf(config)(F.col("chunk")))


def windowed_event_counts(
    events: DataFrame,
    *,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling/sliding window aggregation with late-data watermark —
    the streaming twin of relational.events_hourly."""
    win = (
        F.window("ts", window)
        if slide is None
        else F.window("ts", window, slide)
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_event_counts(
    events: DataFrame,
    *,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Native session windows (gap-based) — the streaming twin of
    relational.events_sessionization."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sess"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("session_value"),
        )
        .select(
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


def write_foreach_batch_parquet(
    stream: DataFrame, out_dir: str, checkpoint_dir: str
):
    """Exactly-once parquet sink via foreachBatch: idempotent overwrite
    into a per-batch subdirectory keyed by epoch id."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.write.mode("overwrite").parquet(
                f"{out_dir}/batch={epoch_id}"
            )
        )

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


def make_running_totals_update(timeout_minutes: int | None):
    """The applyInPandasWithState callback for :func:`running_user_totals`,
    exposed module-level so the timeout-eviction branch is unit-testable
    (a ProcessingTimeTimeout can't be driven deterministically through
    ``processAllAvailable``)."""

    def update(key, pdfs, state):
        # Timeout firing = this user was idle for a full timeout window:
        # evict the state WITHOUT re-arming it (falling through would
        # update+re-arm and the state would never be released — advisor
        # finding, round 1).  No row is emitted for the eviction.
        if state.hasTimedOut:
            state.remove()
            return
        n, total = state.get if state.exists else (0, 0.0)
        batch_n = 0
        for pdf in pdfs:
            batch_n += len(pdf)
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        if timeout_minutes is not None:
            # int(): fractional minutes are legal (integration tests
            # drive real sub-second evictions) but the API takes ms
            state.setTimeoutDuration(int(timeout_minutes * 60 * 1000))
        import pandas as pd

        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [round(total, 4)],
                "batch_events": [batch_n],
            }
        )

    return update


def running_user_totals(
    events: DataFrame,
    *,
    timeout_minutes: int | None = None,
) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user running event count + value total across micro-batches, with
    processing-time state timeout (the pattern for any accumulating
    per-key state Spark's built-in aggregations can't express — e.g.
    online dedup caches or per-key model state).

    Emits one row per user per micro-batch in which that user appeared:
    (user_id, n_events, total_value, batch_events).

    ``timeout_minutes=None`` (default) keeps state forever (NoTimeout) —
    the deterministic mode; ``processAllAvailable`` terminates cleanly.
    A processing-time timeout evicts idle users' state but makes Spark
    schedule continual state-cleanup micro-batches, so
    ``processAllAvailable`` never returns — only use it with long-running
    queries driven by real triggers.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("n_events", T.LongType(), False),
            T.StructField("total_value", T.DoubleType(), False),
            T.StructField("batch_events", T.LongType(), False),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType(), False),
            T.StructField("total", T.DoubleType(), False),
        ]
    )

    update = make_running_totals_update(timeout_minutes)

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.NoTimeout
                if timeout_minutes is None
                else GroupStateTimeout.ProcessingTimeTimeout
            ),
        )
    )


def make_attribution_update():
    """The applyInPandasWithState callback for
    :func:`streaming_attribution`, module-level for unit-testability
    (the running_user_totals convention).

    Per-user state is CONSTANT-SIZED: the first and last non-purchase
    touch type of the currently-open conversion segment.  Each batch's
    rows for the user are sorted by (ts, event_id) and folded: a touch
    updates the trackers, a purchase EMITS its (first, last) attribution
    ('direct' when the segment had no touch) and resets the segment —
    exactly the batch op's prior-purchase-count segmentation, replayed
    as a sequential fold.

    Exactness contract: per-user event-time order across micro-batches
    (in-batch disorder is fixed by the sort).  That is the inherent
    price of streaming segment-windowed attribution: a LATE purchase
    splits an already-merged segment and retroactively reassigns its
    touches, so (user, segment)-keyed partials are NOT a merge lattice
    — the only exact out-of-order form keeps every touch (a value
    stream).  Production = watermark-bounded reorder buffer upstream;
    here the harness feeds event-time-ordered micro-batches."""

    def update(key, pdfs, state):
        import pandas as pd

        first_t, last_t = state.get if state.exists else (None, None)
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts", "event_id"])
        out_first: list = []
        out_last: list = []
        for et in rows["event_type"]:
            if et == "purchase":
                # explicit None checks, not truthiness: an empty-string
                # touch type is a real touch and must be attributed,
                # matching batch purchase_attribution
                out_first.append("direct" if first_t is None else first_t)
                out_last.append("direct" if last_t is None else last_t)
                first_t = None
                last_t = None
            else:
                if first_t is None:
                    first_t = et
                last_t = et
        state.update((first_t, last_t))
        if out_first:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(out_first),
                    "first_touch": out_first,
                    "last_touch": out_last,
                }
            )

    return update


def streaming_attribution(events: DataFrame) -> DataFrame:
    """First/last-touch attribution as a CUSTOM STATEFUL streaming
    operator (``applyInPandasWithState``): per-user state is two touch
    types (the open segment's first and last), each purchase emits one
    attribution row the moment it arrives, and state never grows with
    history — the per-key-model-state pattern the built-in aggregations
    can't express.  Output rows feed :func:`attribution_rollup`, which
    reproduces the batch ``purchase_attribution`` exactly (shared
    oracle) given per-user event-time-ordered micro-batches — see
    :func:`make_attribution_update` for why exact out-of-order
    streaming attribution is impossible without keeping every touch."""
    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("first_touch", T.StringType(), False),
            T.StructField("last_touch", T.StringType(), False),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("first_t", T.StringType(), True),
            T.StructField("last_t", T.StringType(), True),
        ]
    )
    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("user_id").applyInPandasWithState(
        make_attribution_update(),
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def make_transition_update():
    """The applyInPandasWithState callback for
    :func:`streaming_transitions` (module-level for unit-testability).

    Per-user state is ONE string: the type of the user's latest event.
    Each batch's rows are sorted by (ts, event_id) and folded; every
    event after the first emits the transition (previous type → this
    type) the moment it arrives — the batch op's ``lead()`` replayed as
    a sequential fold, so transitions that STRADDLE a micro-batch
    boundary are emitted exactly once, from state.

    Exactness contract: per-user event-time order across micro-batches
    (in-batch disorder is fixed by the sort).  That is inherent: a late
    event rewrites its neighbors' adjacency — the already-emitted
    (prev → next) transition must become (prev → late) + (late → next),
    so (from, to) count partials are NOT a merge lattice under
    out-of-order arrival.  Production = watermark-bounded reorder
    buffer upstream; the harness feeds event-time-ordered slices."""

    def update(key, pdfs, state):
        import pandas as pd

        (last_t,) = state.get if state.exists else (None,)
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts", "event_id"])
        frm: list = []
        to: list = []
        for et in rows["event_type"]:
            # explicit None check: an empty-string type is a real state
            if last_t is not None:
                frm.append(last_t)
                to.append(et)
            last_t = et
        state.update((last_t,))
        if frm:
            yield pd.DataFrame({"from_type": frm, "to_type": to})

    return update


def streaming_transitions(events: DataFrame) -> DataFrame:
    """Per-user behavioral transitions as a CUSTOM STATEFUL streaming
    operator (``applyInPandasWithState``): one string of state per user
    (their latest event type), each arriving event emits its incoming
    transition edge, and boundary-straddling adjacency comes out of
    state instead of being lost at the batch seam.  The emitted edge
    stream rolls up to the exact batch transition counts (given
    per-user event-time-ordered micro-batches — see
    :func:`make_transition_update`), which
    :func:`~inception_spark.plans.relational.markov_finalize` then
    power-iterates into the stationary distribution."""
    out_schema = T.StructType(
        [
            T.StructField("from_type", T.StringType(), False),
            T.StructField("to_type", T.StringType(), False),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("last_t", T.StringType(), True)]
    )
    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("user_id").applyInPandasWithState(
        make_transition_update(),
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_exact_dedup(
    docs: DataFrame, *, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming exact dedup: first occurrence of each content fingerprint
    passes through; repeats within the watermark horizon are dropped.
    State is bounded by the watermark (fingerprints older than the horizon
    are evicted) — the streaming twin of dedup.exact_dedup."""
    from inception_spark.functions.text_analysis import fingerprint

    # dropDuplicatesWithinWatermark, not dropDuplicates: with a subset
    # that excludes the event-time column, plain dropDuplicates ignores
    # the watermark for eviction and the fingerprint state grows forever.
    return (
        docs.withColumn("fingerprint", fingerprint(F.col("text")))
        .withWatermark("event_time", watermark)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str = "user_id",
    within: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream interval join: pair each left event with
    every right event of the same ``key`` arriving within ``within`` AFTER
    it (click→purchase attribution, impression→conversion, …).

    State is provably bounded: both inputs carry a watermark and the join
    condition brackets ``r.ts`` into [l.ts, l.ts + within], so Spark
    evicts a buffered left row once the right watermark passes
    l.ts + within, and a buffered right row once the left watermark
    passes r.ts — without both bounds a stream-stream join buffers one
    side forever.  Inner-join results are emitted as soon as both rows
    have arrived (no watermark wait), so an AvailableNow drain needs no
    sentinel.  delay_s is the floor of the true gap in seconds, computed
    from the microsecond difference — NOT unix_timestamp subtraction,
    whose per-operand second-truncation disagrees with a floored division
    whenever the two sub-second parts straddle each other."""
    l = left.withWatermark("ts", watermark).alias("l")
    r = right.withWatermark("ts", watermark).alias("r")
    return l.join(
        r,
        F.expr(
            f"l.{key} = r.{key} AND r.ts >= l.ts "
            f"AND r.ts <= l.ts + INTERVAL {within}"
        ),
    ).select(
        F.col(f"l.{key}").alias(key),
        F.col("l.event_id").alias("left_event_id"),
        F.col("r.event_id").alias("right_event_id"),
        F.col("l.ts").alias("left_ts"),
        F.col("r.ts").alias("right_ts"),
        F.expr("timestampdiff(MICROSECOND, l.ts, r.ts) div 1000000")
        .cast("long")
        .alias("delay_s"),
    )


def _finish_and_clean(
    result: DataFrame, work: str, owned: bool
) -> DataFrame:
    """Detach a harness result from its scratch dir, then remove the dir.

    Every run_stream_* harness returns a LAZY read over parquet it wrote
    under a mkdtemp scratch dir; without this, 30 streaming entries ×
    every bench/test run leak parquet to /tmp (r9 verdict ask 7).  An
    eager ``localCheckpoint`` materializes the (small — partial/aggregate
    sized) result into Spark's block store so the files can go.  Dirs
    are removed only on SUCCESS (failure paths raise before reaching
    this, leaving the scratch dir for debugging) and only when the
    harness created them (``owned`` — a caller-supplied work_dir is the
    caller's to manage)."""
    import shutil

    out = result.localCheckpoint(eager=True)
    if owned:
        shutil.rmtree(work, ignore_errors=True)
    return out


def run_stream_to_parquet(
    spark: SparkSession,
    staged: DataFrame,
    transform,
    *,
    work_dir: str | None = None,
    timeout_sec: int = 600,
) -> DataFrame:
    """Execute a streaming transform END TO END and hand back the
    materialized result as a batch DataFrame — the bridge that lets the
    correctness oracle check a genuinely streaming execution.

    ``staged`` is written to a parquet directory, re-opened as a
    file-source STREAM, pushed through ``transform`` (watermarks, windowed
    aggregation, dropDuplicatesWithinWatermark, ... — real streaming
    operators with real state), and drained under
    ``Trigger.AvailableNow`` into an idempotent per-batch ``foreachBatch``
    parquet sink.  AvailableNow runs the no-data flush micro-batch after
    the last file, so append-mode windows whose end falls behind the
    final watermark ARE emitted (callers close the remaining windows by
    staging a far-future sentinel row; the sentinel's own window never
    closes, so it never appears in the output).

    Returns the union of all emitted batches, re-read from parquet."""
    import tempfile

    work = work_dir or tempfile.mkdtemp(prefix="inception_stream_")
    src, out, ck = f"{work}/src", f"{work}/out", f"{work}/ck"
    staged.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(staged.schema).parquet(src)
    q = (
        transform(stream)
        .writeStream.foreachBatch(
            lambda bdf, eid: bdf.write.mode("overwrite").parquet(
                f"{out}/batch={eid}"
            )
        )
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"streaming query did not drain within {timeout_sec}s"
        )
    # batch=N discovery adds a partition column — not part of the result
    return _finish_and_clean(
        spark.read.parquet(out).drop("batch"), work, work_dir is None
    )


def read_document_stream_with_quarantine(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """Streaming source with corrupt-record quarantine — closes the
    batch/stream asymmetry where a schema'd stream silently drops
    malformed lines (verify finding).  → (good, quarantined)."""
    schema = T.StructType(
        list(STREAM_DOCUMENTS.fields)
        + [T.StructField("_corrupt_record", T.StringType(), True)]
    )
    raw = (
        spark.readStream.schema(schema)
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("maxFilesPerTrigger", 16)
        .json(path)
    )
    good = raw.filter(
        F.col("_corrupt_record").isNull() & F.col("id").isNotNull()
    ).select("id", "text", "event_time")
    bad = raw.filter(
        F.col("_corrupt_record").isNotNull() | F.col("id").isNull()
    ).select(
        F.col("_corrupt_record").alias("raw"),
        F.lit("validation_error").alias("error_type"),
    )
    return good, bad


def streaming_url_dedup(
    docs: DataFrame, *, url_col: str = "url", watermark: str = "1 hour"
) -> DataFrame:
    """Streaming crawl-frontier URL dedup: canonicalize each fetched URL
    (``canonical_url_expr`` — a stateless projection, so the full RFC
    3986-style normalization runs unchanged in-stream) and pass only the
    FIRST fetch per canonical URL within the watermark horizon; refetch
    variants (scheme/www/utm/query-order/fragment) are dropped by state
    keyed on the canonical form, evicted past the horizon — the
    streaming twin of ``dedup.url_dedup`` and the dedup gate a live
    crawler puts in front of content processing."""
    from inception_spark.functions.cleaning import canonical_url_expr

    return (
        docs.withColumn("canon_url", canonical_url_expr(F.col(url_col)))
        .withWatermark("event_time", watermark)
        .dropDuplicatesWithinWatermark(["canon_url"])
    )


def run_stream_ivm(
    spark: SparkSession,
    init_state: DataFrame,
    deltas: DataFrame,
    keys: list,
    value_col: str,
    *,
    n_batches: int = 4,
    work_dir: str | None = None,
    timeout_sec: int = 600,
) -> DataFrame:
    """Incremental view maintenance IN STREAM: delta rows (mult ∈
    {+1,-1}) arrive as ``n_batches`` micro-batches (maxFilesPerTrigger=1
    over an n-file source) and each ``foreachBatch`` folds ONE
    delta-sized :func:`~inception_spark.plans.ivm.ivm_apply` into a
    versioned parquet state table — history is never re-read, the fold
    cost is O(batch + |state|) per batch regardless of how much history
    the state summarizes.  This is the live form of the batch IVM
    identity: after the stream drains, the final state version must
    equal recomputing the rollup over the fully-updated base, which is
    exactly what the driver oracle computes.

    The state is genuinely stateful ACROSS batches (unlike the sketch
    quartet's stateless per-batch deltas merged on read): batch k reads
    state v_k and writes v_{k+1}; an over-retraction in ANY batch
    raises through ivm_apply's in-plan guard.  Returns the final state
    (keys..., s, n)."""
    import tempfile

    from inception_spark.plans.ivm import ivm_apply

    work = work_dir or tempfile.mkdtemp(prefix="inception_ivm_stream_")
    src, st, ck = f"{work}/src", f"{work}/state", f"{work}/ck"
    # n source files + maxFilesPerTrigger=1 → n real micro-batches
    deltas.repartition(n_batches).write.mode("overwrite").parquet(src)
    init_state.write.mode("overwrite").parquet(f"{st}/v0")
    version = {"n": 0}

    def fold(bdf, _eid):
        cur = spark.read.parquet(f"{st}/v{version['n']}")
        nxt = ivm_apply(cur, bdf, keys, value_col)
        nxt.write.mode("overwrite").parquet(f"{st}/v{version['n'] + 1}")
        version["n"] += 1

    stream = (
        spark.readStream.schema(deltas.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"IVM stream did not drain within {timeout_sec}s"
        )
    if version["n"] < 2:
        # RuntimeError, not assert: this guard IS the contract ("the
        # maintenance identity held across folds") and must survive
        # python -O
        raise RuntimeError(
            f"expected multiple micro-batches, got {version['n']} — "
            "the maintenance identity must hold ACROSS folds, not in "
            "one"
        )
    return _finish_and_clean(
        spark.read.parquet(f"{st}/v{version['n']}"), work, work_dir is None
    )


def run_stream_batch_partials(
    spark: SparkSession,
    staged: DataFrame,
    batch_partial,
    *,
    n_batches: int = 4,
    work_dir: str | None = None,
    timeout_sec: int = 600,
) -> DataFrame:
    """Mergeable-partial maintenance IN STREAM: each micro-batch is
    reduced by ``batch_partial`` (a plain BATCH DataFrame → its exact
    partial-aggregate rows — decimal/long counter tables) inside
    ``foreachBatch`` and APPENDED to one parquet dir; the caller merges
    the union on read.  This is the general form behind the streaming
    sketch quartet: whenever an aggregate's partials re-sum exactly
    (fixed-point sums, counts, max-registers), any regrouping of rows
    into batches reproduces the batch answer bit-for-bit — state stays
    counter-table sized, never a value stream.  Returns the unioned
    partial rows."""
    import tempfile

    work = work_dir or tempfile.mkdtemp(prefix="inception_partials_")
    src, out, ck = f"{work}/src", f"{work}/out", f"{work}/ck"
    staged.repartition(n_batches).write.mode("overwrite").parquet(src)
    seen = {"n": 0}

    def fold(bdf, eid):
        seen["n"] += 1
        batch_partial(bdf).write.mode("overwrite").parquet(
            f"{out}/batch={eid}"
        )

    stream = (
        spark.readStream.schema(staged.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"partials stream did not drain within {timeout_sec}s"
        )
    if seen["n"] < 2:
        raise RuntimeError(
            f"expected multiple micro-batches, got {seen['n']} — the "
            "merge identity must hold ACROSS batch partials, not "
            "within one"
        )
    return _finish_and_clean(
        spark.read.parquet(out).drop("batch"), work, work_dir is None
    )


def run_stream_ordered_batches(
    spark: SparkSession,
    batches: list,
    transform,
    *,
    timeout_sec: int = 600,
) -> DataFrame:
    """Execute a streaming transform with a CONTROLLED micro-batch
    order: ``batches[i]`` becomes exactly micro-batch i (one parquet
    file per batch, ``maxFilesPerTrigger=1``, file mtimes forced
    monotone because FileStreamSource drains oldest-modification-time
    first).  This is the harness for semantics that depend on WHEN the
    watermark advances — late-data dropping, state eviction — which
    run_stream_to_parquet's single staged file cannot express.
    Returns the union of all emitted append batches."""
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile

    work = tempfile.mkdtemp(prefix="inception_stream_ord_")
    src, out, ck = f"{work}/src", f"{work}/out", f"{work}/ck"
    _os.makedirs(src)
    for i, b in enumerate(batches):
        stage = f"{work}/stage{i}"
        b.coalesce(1).write.mode("overwrite").parquet(stage)
        part = sorted(_glob.glob(f"{stage}/part-*.parquet"))[0]
        dst = f"{src}/b{i:03d}.parquet"
        _shutil.move(part, dst)
        t = 1_000_000_000 + i * 1000
        _os.utime(dst, (t, t))
    n_batches = {"n": 0}

    def sink(bdf, eid):
        n_batches["n"] += 1
        bdf.write.mode("overwrite").parquet(f"{out}/batch={eid}")

    stream = (
        spark.readStream.schema(batches[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        transform(stream)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"ordered stream did not drain within {timeout_sec}s"
        )
    if n_batches["n"] < len(batches):
        raise RuntimeError(
            f"expected >= {len(batches)} micro-batches, got "
            f"{n_batches['n']} — batch order was not preserved"
        )
    return _finish_and_clean(
        spark.read.parquet(out).drop("batch"), work, True
    )


def make_cusum_update(slack_milli: int, threshold_milli: int):
    """Per-type CUSUM fold for ``applyInPandasWithState``: state is ONE
    scaled integer (the running reflected sum S) — constant per key,
    never a value stream.  Each arriving spine row (hr, x, n, s)
    carries its pinned calibration, so the fold is pure:
    S ← max(0, S + 1000·x·n − 1000·s − n·slack), emit
    (hr, x, S div n, S > n·threshold) the moment the hour arrives.

    Exactness contract: per-type event-time order across micro-batches
    (in-batch disorder is fixed by the sort) — CUSUM is a sequential
    statistic by definition, so a late hour would have to rewrite every
    emission after it; production = watermark-bounded reorder buffer
    upstream, as with attribution."""

    def update(key, pdfs, state):
        import pandas as pd

        (s_prev,) = state.get if state.exists else (0,)
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values("hr")
        S = int(s_prev)
        hrs, xs, cus, al = [], [], [], []
        for hr, x, n, s in zip(
            rows["hr"], rows["x"], rows["n"], rows["s"]
        ):
            d = (
                1000 * int(x) * int(n)
                - 1000 * int(s)
                - int(n) * int(slack_milli)
            )
            S = max(0, S + d)
            hrs.append(int(hr))
            xs.append(int(x))
            cus.append(S // int(n))
            al.append(S > int(n) * int(threshold_milli))
        state.update((S,))
        if hrs:
            yield pd.DataFrame(
                {
                    "event_type": [key[0]] * len(hrs),
                    "hr": hrs,
                    "x": xs,
                    "cusum_milli": cus,
                    "alarm": al,
                }
            )

    return update


def streaming_cusum(
    spine: DataFrame,
    *,
    slack_milli: int = 500,
    threshold_milli: int = 8000,
) -> DataFrame:
    """Live CUSUM change-point monitor as TRUE custom stateful
    streaming (``applyInPandasWithState``): input is the calibrated
    hourly spine (event_type, hr, x, n, s) — see
    ``relational.cusum_calibrated_spine`` for why (n, s) are PINNED
    columns — state per type is one integer, and every hour emits its
    (cusum_milli, alarm) on arrival.  The batch twin computes the same
    fold as prefix-sum-minus-running-min windows; both share one
    oracle."""
    out_schema = T.StructType(
        [
            T.StructField("event_type", T.StringType(), False),
            T.StructField("hr", T.LongType(), False),
            T.StructField("x", T.LongType(), False),
            T.StructField("cusum_milli", T.LongType(), False),
            T.StructField("alarm", T.BooleanType(), False),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("s_scaled", T.LongType(), True)]
    )
    from pyspark.sql.streaming.state import GroupStateTimeout

    return spine.groupBy("event_type").applyInPandasWithState(
        make_cusum_update(int(slack_milli), int(threshold_milli)),
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stream_ivm_join(
    spark: SparkSession,
    a_old: DataFrame,
    b_old: DataFrame,
    deltas: DataFrame,
    *,
    key: str,
    grp: str,
    val: str,
    n_batches: int = 4,
    work_dir: str | None = None,
    timeout_sec: int = 600,
) -> DataFrame:
    """GROUP-BY-AGGREGATE-OVER-JOIN maintained live with BOUNDED state
    — the higher-order IVM scheme (DBToaster-style auxiliary views):
    instead of keeping the base relations (history-sized), keep three
    aggregate tables —

    * ``sa``: per-(key, grp) A multiplicity,
    * ``sb``: per-key B (value-sum, count),
    * ``v``:  the maintained view (grp, s, n)

    — and fold each micro-batch of MIXED A/B deltas with the join
    rule evaluated AGAINST THE STATES: ΔV = ΔA⋈sb_old ∪ sa_old⋈ΔB ∪
    ΔA⋈ΔB (multiplicities multiplied), then advance sa/sb.  Any
    interleaving of A and B deltas across batches yields the same
    final view because each fold is exact against the current states
    — the identity the batch :func:`~inception_spark.plans.ivm.
    ivm_join_deltas` proves against full bases, restated over their
    sufficient statistics.  State is bounded by JOIN-KEY cardinality
    (the entity-rollup class: per-order aggregates, like the Gini
    twin's per-customer rollup), never by delta history; each fold
    costs O(batch + touched keys).

    ``deltas`` rows: (side 'A'|'B', key, grp?, val?, mult ∈ {+1,−1}).
    Returns the final view (grp, s DECIMAL, n LONG)."""
    import tempfile

    _DEC = "decimal(18,2)"
    work = work_dir or tempfile.mkdtemp(prefix="inception_ivmj_stream_")
    src, st, ck = f"{work}/src", f"{work}/state", f"{work}/ck"
    deltas.repartition(n_batches).write.mode("overwrite").parquet(src)

    sa0 = a_old.groupBy(
        F.col(key).alias("k"), F.col(grp).alias("grp")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    sb0 = b_old.groupBy(F.col(key).alias("k")).agg(
        F.sum(F.col(val).cast(_DEC)).cast(_DEC).alias("sv"),
        F.count(F.lit(1)).cast("long").alias("cnt"),
    )
    v0 = (
        sa0.select("k", "grp", F.col("cnt").alias("ca"))
        .join(sb0.select("k", "sv", F.col("cnt").alias("cb")), "k")
        .groupBy("grp")
        .agg(
            F.sum(F.col("ca") * F.col("sv")).cast(_DEC).alias("s"),
            F.sum(F.col("ca") * F.col("cb")).cast("long").alias("n"),
        )
    )
    sa0.write.mode("overwrite").parquet(f"{st}/sa0")
    sb0.write.mode("overwrite").parquet(f"{st}/sb0")
    v0.write.mode("overwrite").parquet(f"{st}/v0")
    ver = {"n": 0}

    def fold(bdf, _eid):
        i = ver["n"]
        sa = spark.read.parquet(f"{st}/sa{i}")
        sb = spark.read.parquet(f"{st}/sb{i}")
        v = spark.read.parquet(f"{st}/v{i}")
        da = bdf.filter(F.col("side") == "A").select(
            F.col("key").alias("k"),
            F.col("grp").alias("grp"),
            F.col("mult").cast("long").alias("ma"),
        )
        db = bdf.filter(F.col("side") == "B").select(
            F.col("key").alias("k"),
            F.col("val").cast(_DEC).alias("bv"),
            F.col("mult").cast("long").alias("mb"),
        )
        t1 = da.join(sb, "k").select(
            "grp",
            (F.col("ma") * F.col("sv")).alias("ds"),
            (F.col("ma") * F.col("cnt")).alias("dn"),
        )
        t2 = sa.join(db, "k").select(
            "grp",
            (F.col("cnt") * F.col("mb") * F.col("bv")).alias("ds"),
            (F.col("cnt") * F.col("mb")).alias("dn"),
        )
        t3 = da.join(db, "k").select(
            "grp",
            (F.col("ma") * F.col("mb") * F.col("bv")).alias("ds"),
            (F.col("ma") * F.col("mb")).alias("dn"),
        )
        dv = t1.unionByName(t2).unionByName(t3)
        v_new = (
            v.select("grp", "s", "n")
            .unionByName(
                dv.select(
                    "grp",
                    F.col("ds").cast(_DEC).alias("s"),
                    F.col("dn").cast("long").alias("n"),
                )
            )
            .groupBy("grp")
            .agg(
                F.sum("s").cast(_DEC).alias("s"),
                F.sum("n").cast("long").alias("n"),
            )
            .filter(
                F.when(
                    F.col("n") < 0,
                    F.raise_error(
                        F.lit(
                            "run_stream_ivm_join: negative view "
                            "multiplicity — retraction of joined rows "
                            "absent from the view"
                        )
                    ).cast("boolean"),
                ).otherwise(F.col("n") != 0)
            )
        )
        sa_new = (
            sa.unionByName(
                da.groupBy("k", "grp").agg(
                    F.sum("ma").cast("long").alias("cnt")
                )
            )
            .groupBy("k", "grp")
            .agg(F.sum("cnt").cast("long").alias("cnt"))
            .filter(F.col("cnt") != 0)
        )
        sb_new = (
            sb.unionByName(
                db.groupBy("k").agg(
                    F.sum(F.col("mb") * F.col("bv")).cast(_DEC).alias("sv"),
                    F.sum("mb").cast("long").alias("cnt"),
                )
            )
            .groupBy("k")
            .agg(
                F.sum("sv").cast(_DEC).alias("sv"),
                F.sum("cnt").cast("long").alias("cnt"),
            )
            .filter((F.col("cnt") != 0) | (F.col("sv") != 0))
        )
        sa_new.write.mode("overwrite").parquet(f"{st}/sa{i + 1}")
        sb_new.write.mode("overwrite").parquet(f"{st}/sb{i + 1}")
        v_new.write.mode("overwrite").parquet(f"{st}/v{i + 1}")
        ver["n"] = i + 1

    stream = (
        spark.readStream.schema(deltas.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"IVM join stream did not drain within {timeout_sec}s"
        )
    if ver["n"] < 2:
        raise RuntimeError(
            f"expected multiple micro-batches, got {ver['n']} — the "
            "maintenance identity must hold ACROSS folds, not in one"
        )
    return _finish_and_clean(
        spark.read.parquet(f"{st}/v{ver['n']}"), work, work_dir is None
    )
