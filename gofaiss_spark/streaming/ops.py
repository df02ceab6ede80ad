"""Structured Streaming operators.

The reference has NO streaming surface (SURVEY.md §2.6) — its only
"incremental" behavior is Add-under-mutex (hnsw.go:97-139). These
operators are the Spark-native extension of that surface for a
continuously-ingesting training-data pipeline:

- ``windowed_event_agg``: watermarked tumbling-window aggregation —
  the canonical late-data-tolerant rollup.
- ``streaming_exact_dedup``: drop payloads whose content fingerprint
  was already seen within the watermark — streaming exact dedup.
- ``stream_add_to_ivf``: ``foreachBatch`` micro-batch "Add" into a
  persisted IVF index artifact — each batch is assigned to its
  nearest centroid and appended to the partitioned parquet lists, so
  nprobe search keeps pruning files as data arrives. This is the
  distributed, crash-tolerant analogue of the reference's mutex Add.

All transformations work identically on batch DataFrames (Spark's
unified model), which is how the unit tests drive them end-to-end
with deterministic testdata + ``availableNow`` triggers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_agg(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Tumbling-window counts/sums per event type with a watermark.

    On a stream, state for windows older than the watermark is
    dropped (bounded memory at any scale); on a batch frame the same
    plan is a plain group-by. Output: (window_start, window_end,
    event_type, n_events, sum_value).
    """
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window(ts_col, window).alias("w"), F.col(type_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            type_col,
            "n_events",
            "sum_value",
        )
    )


def streaming_exact_dedup(
    docs: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Emit only first-seen documents by normalized content
    fingerprint. Streaming: ``dropDuplicatesWithinWatermark`` keeps
    the seen-set bounded by event time; batch: plain dropDuplicates
    on the fingerprint."""
    from gofaiss_spark.functions.text import doc_fingerprint

    with_fp = docs.withColumn("_fp", doc_fingerprint(text_col))
    if docs.isStreaming:
        return (
            with_fp.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["_fp"])
            .drop("_fp")
        )
    return with_fp.dropDuplicates(["_fp"]).drop("_fp")


def sessionize_batch(
    events: DataFrame,
    gap_minutes: float = 30.0,
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Gap-based sessionization, batch formulation: a new session
    starts when the gap to the previous event of the same user
    exceeds ``gap_minutes``. lag → boundary flag → running sum =
    session index; one shuffle on user_id shared by the window and
    the final group-by. Output: (user_id, session_idx, session_start,
    session_end, n_events, sum_value)."""
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(ts_col)
    gap_sec = gap_minutes * 60.0
    prev_ts = F.lag(ts_col).over(w)
    # cast("double") keeps fractional seconds — unix_timestamp would
    # truncate to whole seconds and disagree with the streaming path
    new_session = F.when(
        prev_ts.isNull()
        | (F.col(ts_col).cast("double") - prev_ts.cast("double") > gap_sec),
        1,
    ).otherwise(0)
    with_idx = events.withColumn(
        "session_idx", F.sum(new_session).over(w).cast("int")
    )
    return (
        with_idx.groupBy(user_col, "session_idx")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), 2).alias("sum_value"),
        )
    )


def sessionize_stream(
    events: DataFrame,
    gap_minutes: float = 30.0,
    watermark: str = "1 hour",
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """The same sessions computed incrementally with
    ``applyInPandasWithState``: per-user open-session state, closed
    either by an in-batch gap or by event-time timeout once the
    watermark passes the gap horizon. State is O(open sessions), not
    O(events) — the custom-stateful-operator pattern the reference
    has no analogue for (SURVEY.md §2.6 streaming row)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = int(gap_minutes * 60_000_000)  # microsecond precision

    out_schema = (
        f"{user_col} long, session_idx int, session_start timestamp, "
        "session_end timestamp, n_events long, sum_value double"
    )
    state_schema = "start long, end long, n long, s double, idx int"

    def fn(key, pdfs, state: GroupState):
        uid = key[0]
        if state.hasTimedOut:
            start, end, n, s, idx = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    user_col: [uid],
                    "session_idx": [idx],
                    "session_start": [pd.Timestamp(start, unit="us")],
                    "session_end": [pd.Timestamp(end, unit="us")],
                    "n_events": [n],
                    "sum_value": [round(s, 2)],
                }
            )
            return
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values(ts_col)
        ts_us = (rows[ts_col].astype("int64") // 1_000).to_numpy()
        vals = rows[value_col].to_numpy()
        if state.exists:
            start, end, n, s, idx = state.get
        else:
            start, end, n, s, idx = 0, 0, 0, 0.0, 0  # n == 0 ⇒ no open session
        closed = []
        for t, v in zip(ts_us, vals):
            if n == 0 or t - end > gap_us:
                if n > 0:
                    closed.append((start, end, n, s, idx))
                idx += 1
                start, end, n, s = int(t), int(t), 1, float(v)
            else:
                end, n, s = max(end, int(t)), n + 1, s + float(v)
        state.update((int(start), int(end), int(n), float(s), int(idx)))
        state.setTimeoutTimestamp((int(end) + gap_us) // 1_000)  # ms epoch
        if closed:
            yield pd.DataFrame(
                {
                    user_col: [uid] * len(closed),
                    "session_idx": [c[4] for c in closed],
                    "session_start": [pd.Timestamp(c[0], unit="us") for c in closed],
                    "session_end": [pd.Timestamp(c[1], unit="us") for c in closed],
                    "n_events": [c[2] for c in closed],
                    "sum_value": [round(c[3], 2) for c in closed],
                }
            )

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(user_col)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def funnel_stream(
    events: DataFrame,
    stages: tuple[str, str, str] = ("view", "click", "purchase"),
    watermark: str = "1 hour",
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Incremental ordered-funnel status (__spark_entry__
    events_funnel's streaming twin): per-user state is just the three
    first-stage timestamps — O(1) per user regardless of stream
    length — merged by min on every batch. A row is emitted whenever
    a user's state changes; the LAST row per user always equals the
    batch funnel's flags (gated in tests/test_streaming.py), because
    stage-min merging is order-insensitive."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    s1, s2, s3 = stages
    out_schema = (
        f"{user_col} long, s_view boolean, s_click boolean, "
        "s_purchase boolean"
    )
    state_schema = "t1 long, t2 long, t3 long"  # 0 = unset (µs epoch)

    def fn(key, pdfs, state: GroupState):
        uid = key[0]
        rows = pd.concat(list(pdfs), ignore_index=True)
        t1, t2, t3 = state.get if state.exists else (0, 0, 0)

        def stage_min(name, cur):
            sub = rows[rows[type_col] == name]
            if len(sub) == 0:
                return cur
            m = int(sub[ts_col].astype("int64").min() // 1_000)
            return m if cur == 0 else min(cur, m)

        n1, n2, n3 = stage_min(s1, t1), stage_min(s2, t2), stage_min(s3, t3)
        if (n1, n2, n3) != (t1, t2, t3) or not state.exists:
            state.update((n1, n2, n3))
            s_view = n1 > 0
            s_click = s_view and n2 > 0 and n2 > n1
            s_purchase = s_click and n3 > 0 and n3 > n2
            yield pd.DataFrame(
                {
                    user_col: [uid],
                    "s_view": [s_view],
                    "s_click": [s_click],
                    "s_purchase": [s_purchase],
                }
            )

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(user_col)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_add_to_ivf(
    stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    vec_col: str = "vec",
    id_col: str = "id",
):
    """Continuously Add vectors into a saved IVF index artifact.

    Per micro-batch: argmin-join against the (broadcast) centroids of
    the artifact at ``index_path``, then append to the
    ``partitionBy(list_id)`` parquet — identical layout to a batch
    build, so readers (search_ivf / load_index) see new vectors on
    their next scan with zero coordination. Returns the started
    ``StreamingQuery`` (caller owns awaitTermination/stop).

    Reference analogue: ivf.go:93-112 Add (assign → append under
    mutex); here the "mutex" is the streaming commit log.
    """
    from gofaiss_spark.plans.artifacts import _read_meta

    meta = _read_meta(index_path)
    if meta["index_type"] != "ivf":
        raise ValueError(f"{index_path} is {meta['index_type']!r}, expected ivf")

    def add_batch(batch: DataFrame, batch_id: int) -> None:
        from gofaiss_spark.operators.ivf import assign_to_centroids
        from gofaiss_spark.plans.artifacts import (
            _drop_stale_schema,
            _read_matrix,
            _read_meta,
        )

        if batch.isEmpty():
            return
        # the centroids are all an append needs: no load_index, which
        # would list every list directory of the artifact
        meta = _read_meta(index_path)
        shape = (int(meta["params"]["nlist"]), int(meta["dim"]))
        assigned = assign_to_centroids(
            batch.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")),
            _read_matrix(f"{index_path}/centroids", shape,
                         meta.get("format", "parquet")),
            meta["metric"],
        )
        table = f"{index_path}/assignments"
        assigned.write.mode("append").partitionBy("list_id").parquet(table)
        _drop_stale_schema(table, assigned.schema)

    return (
        stream.writeStream.foreachBatch(add_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_search_topk(
    stream: DataFrame,
    index_path: str,
    results_path: str,
    checkpoint_dir: str,
    k: int = 10,
    params: dict | None = None,
    qvec_col: str = "qvec",
    query_id_col: str = "query_id",
):
    """Continuous ANN serving: a stream of query vectors is searched
    per micro-batch against the persisted index artifact at
    ``index_path`` via the unified search API, and (query_id, id,
    distance, rank, batch_id) rows append to ``results_path``.

    The artifact is re-loaded whenever it CHANGES on storage, so
    vectors appended by ``stream_add_to_ivf`` between batches are
    searchable immediately — the streaming twin of the reference's
    concurrent search-while-add test
    (test/integration/index_test.go:330-359); there the coordination
    is a RWMutex, here it is the parquet snapshot + streaming commit
    log. r13 (verdict item 10): an UNCHANGED artifact reuses the
    previous batch's loaded handle instead of re-deriving it — for
    local-filesystem artifacts the change check is one file listing
    ((relpath, size, mtime) set), orders of magnitude cheaper than
    re-loading (an IVF load collects the centroid matrix to the
    driver every batch; a reload also re-lists the parquet files into
    a fresh InMemoryFileIndex). Non-local paths keep the
    reload-every-batch behavior, so the freshness contract is
    unchanged everywhere. Returns the started StreamingQuery (caller
    owns awaitTermination/stop)."""
    import os

    _state: dict = {"sig": None, "idx": None}

    def _artifact_sig():
        """(relpath, size, mtime_ns) of every artifact file, or None
        when the path isn't a plain local directory (→ reload each
        batch, the conservative pre-r13 behavior)."""
        p = index_path
        if p.startswith("file:"):
            p = p[len("file:"):]
        elif "://" in p:
            return None
        if not os.path.isdir(p):
            return None
        sig = []
        for root, _dirs, files in os.walk(p):
            for f in files:
                fp = os.path.join(root, f)
                try:
                    st = os.stat(fp)
                except OSError:
                    return None
                sig.append((os.path.relpath(fp, p), st.st_size,
                            st.st_mtime_ns))
        return tuple(sorted(sig))

    def search_batch(batch: DataFrame, batch_id: int) -> None:
        from gofaiss_spark.api import search
        from gofaiss_spark.plans.artifacts import load_index

        if batch.isEmpty():
            return
        sig = _artifact_sig()
        if sig is None or sig != _state["sig"] or _state["idx"] is None:
            _state["idx"] = load_index(batch.sparkSession, index_path)
            _state["sig"] = sig
        idx = _state["idx"]
        res = search(
            idx,
            batch.select(
                F.col(query_id_col).alias("query_id"),
                F.col(qvec_col).alias("qvec"),
            ),
            k=k,
            params=params or {},
        )
        res.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(results_path)

    return (
        stream.writeStream.foreachBatch(search_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_near_dup_minhash(
    stream: DataFrame,
    registry_path: str,
    kept_path: str,
    checkpoint_dir: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Incremental first-seen-wins MinHash near-dup over a document
    stream.

    State is NOT executor memory: it is a persisted narrow
    (doc_id, band, band_hash) registry parquet — restart-safe,
    unbounded-corpus-safe, and shared by later batch jobs. Per
    micro-batch:

    1. band the batch (operators/dedup.minhash_bands — pure column
       expressions);
    2. a doc is a duplicate iff any band hash is in the registry
       (left-semi against narrow keys) or collides with a lower-id
       doc inside the batch (min-per-key);
    3. survivors append to ``kept_path``; ALL banded rows (kept and
       dropped) append to the registry, preserving the min-doc-wins
       semantics of operators/dedup.near_dup_dedup_batch — the batch
       twin produces the identical kept set when docs arrive in id
       order (gated in tests/test_streaming.py).

    Same artifact-as-state design as ``stream_add_to_ivf``: the
    streaming commit log serializes appends. Returns the started
    StreamingQuery.
    """

    def dedup_batch(batch: DataFrame, batch_id: int) -> None:
        from gofaiss_spark.operators.dedup import minhash_bands

        if batch.isEmpty():
            return
        spark = batch.sparkSession
        bands_df = minhash_bands(
            batch, text_col, id_col, num_hashes, bands, shingle_n
        ).cache()
        firsts = bands_df.groupBy("band", "band_hash").agg(
            F.min("doc_id").alias("_first_doc")
        )
        dup_in_batch = (
            bands_df.join(firsts, ["band", "band_hash"])
            .filter(F.col("_first_doc") < F.col("doc_id"))
            .select("doc_id")
        )
        try:
            reg = spark.read.parquet(registry_path).select("band", "band_hash")
            dup_vs_reg = bands_df.join(
                reg, ["band", "band_hash"], "left_semi"
            ).select("doc_id")
            dup_ids = dup_in_batch.union(dup_vs_reg).distinct()
        except Exception:  # first batch: no registry yet
            dup_ids = dup_in_batch.distinct()
        kept = batch.join(
            dup_ids.withColumnRenamed("doc_id", id_col), id_col, "left_anti"
        )
        kept.write.mode("append").parquet(kept_path)
        bands_df.write.mode("append").parquet(registry_path)
        bands_df.unpersist()

    return (
        stream.writeStream.foreachBatch(dedup_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
