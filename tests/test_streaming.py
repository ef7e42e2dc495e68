"""Streaming tests: file-source AvailableNow lot processing (the
`_READY` pattern), watermarked windows, session windows, stream dedup,
and a stateful running-counter via applyInPandasWithState.

Memory sink + availableNow drains a parquet lot synchronously — batch
data driving a real streaming query (incl. checkpointed incremental
re-runs).
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from logicash_etl_spark import schemas as S
from logicash_etl_spark.sources.lot_datasource import lot_stream_quiet, register_lot_source
from logicash_etl_spark.sources.readers import read_table
from logicash_etl_spark.streaming.ops import dedup_stream, session_windows, windowed_counts
from logicash_etl_spark.streaming.sources import run_available_now_to_parquet, stream_parquet_dir


def run_available_now(stream_df, checkpoint_dir, sink_table, output_mode="append"):
    """Drain everything currently available into an in-session memory
    sink table, then stop."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(sink_table)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


@pytest.fixture(scope="module")
def events_lot(spark, sf_smoke, tmp_path_factory):
    """Copy the events fixture into a writable lot dir (micro-second
    timestamps, streaming-readable)."""
    root = tmp_path_factory.mktemp("stream")
    lot = str(root / "lot")
    ev = read_table(spark, sf_smoke, "events")
    ev.write.mode("overwrite").parquet(lot)
    return root, lot, ev


def _drain(spark, df, root, name):
    run_available_now(df, str(root / f"ckpt_{name}"), name)
    return spark.sql(f"SELECT * FROM {name}")


def test_available_now_lot(spark, events_lot):
    root, lot, ev = events_lot
    stream = stream_parquet_dir(spark, lot, S.EVENTS)
    assert stream.isStreaming
    out = _drain(spark, stream, root, "lot_raw")
    assert out.count() == ev.count()


def test_available_now_incremental(spark, events_lot, tmp_path_factory):
    """Second AvailableNow run with the SAME checkpoint sees only new
    files — the EventBridge-dedup/idempotency contract."""
    root, lot, ev = events_lot
    inc = tmp_path_factory.mktemp("inc")
    inc_dir, out_dir, ckpt = str(inc / "lot"), str(inc / "out"), str(inc / "ckpt")
    ev.limit(100).write.mode("overwrite").parquet(inc_dir)
    stream = stream_parquet_dir(spark, inc_dir, S.EVENTS)
    run_available_now_to_parquet(stream, ckpt, out_dir)
    assert spark.read.parquet(out_dir).count() == 100
    # add new files to the directory; rerun with the SAME checkpoint
    ev.limit(150).write.mode("append").parquet(inc_dir)
    stream2 = stream_parquet_dir(spark, inc_dir, S.EVENTS)
    run_available_now_to_parquet(stream2, ckpt, out_dir)
    # only the appended 150 were processed, not a 100-row reprocess
    assert spark.read.parquet(out_dir).count() == 250


def test_windowed_counts_match_batch(spark, events_lot):
    """Streaming tumbling windows (append mode, watermark-finalized)
    must agree with the batch groupBy(window) on the same closed lot."""
    root, lot, ev = events_lot
    stream = stream_parquet_dir(spark, lot, S.EVENTS)
    agg = windowed_counts(stream)
    out = _drain(spark, agg, root, "win_out")
    batch = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    # append mode emits only watermark-closed windows; every emitted
    # window must match batch exactly, and most windows must be emitted
    got = {(r.window_start, r.event_type): r.n for r in out.collect()}
    want = {(r.window_start, r.event_type): r.n for r in batch.collect()}
    assert got, "no windows emitted"
    for k, v in got.items():
        assert want.get(k) == v, f"window {k}: stream={v} batch={want.get(k)}"
    assert len(got) >= 0.9 * len(want)


def test_session_windows(spark, events_lot):
    root, lot, ev = events_lot
    stream = stream_parquet_dir(spark, lot, S.EVENTS)
    sess = session_windows(stream)
    out = _drain(spark, sess, root, "sess_out")
    rows = out.collect()
    assert rows
    for r in rows:
        assert r.session_end > r.session_start
        assert r.n_events >= 1


def test_dedup_stream(spark, events_lot, tmp_path_factory):
    """Duplicated lot -> dedup_stream keeps one copy per (event_id, ts)."""
    root, lot, ev = events_lot
    dup_dir = str(tmp_path_factory.mktemp("dup") / "lot")
    ev.write.mode("overwrite").parquet(dup_dir)
    ev.write.mode("append").parquet(dup_dir)  # exact duplicates
    stream = stream_parquet_dir(spark, dup_dir, S.EVENTS)
    dedup = dedup_stream(stream, keys=["event_id"])
    out = _drain(spark, dedup, root, "dedup_out")
    assert out.count() == ev.count()


def test_stateful_running_count(spark, events_lot):
    """Custom stateful operator: per-user cumulative event counter via
    applyInPandasWithState (the engine's extension point for operators
    streaming SQL can't express)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    root, lot, ev = events_lot

    def count_fn(key, pdf_iter, state: GroupState):
        total = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [total]})

    stream = stream_parquet_dir(spark, lot, S.EVENTS)
    counted = stream.groupBy("user_id").applyInPandasWithState(
        count_fn,
        outputStructType="user_id long, n_events long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    run_available_now(counted, str(root / "ckpt_stateful"), "stateful_out",
                      output_mode="update")
    out = spark.sql("SELECT * FROM stateful_out")
    got = {r.user_id: r.n_events for r in out.collect()}
    want = {r.user_id: r.n for r in ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    assert got == want


def test_foreach_batch_exactly_once(spark, events_lot, tmp_path_factory):
    """foreachBatch sink: batches carry epoch ids; a rerun with the
    same checkpoint delivers nothing new (exactly-once bookkeeping)."""
    from logicash_etl_spark.streaming.sources import run_available_now_foreach_batch

    root, lot, ev = events_lot
    ck = str(tmp_path_factory.mktemp("fb") / "ckpt")
    seen: list[tuple[int, int]] = []

    def sink(df, epoch_id):
        seen.append((epoch_id, df.count()))

    stream = stream_parquet_dir(spark, lot, S.EVENTS)
    run_available_now_foreach_batch(stream, ck, sink)
    total_first = sum(n for _, n in seen)
    assert total_first == ev.count()
    # rerun, same checkpoint: no new batches
    seen.clear()
    stream2 = stream_parquet_dir(spark, lot, S.EVENTS)
    run_available_now_foreach_batch(stream2, ck, sink)
    assert sum(n for _, n in seen) == 0


def test_streaming_session_query_matches_batch(spark, sf_smoke):
    """The driver-visible streaming_session_windows query: every
    emitted (watermark-finalized) session must exactly match the batch
    sessionize on the same lot — same start, event count, and value sum
    — and all sessions ending before the final watermark are emitted."""
    from logicash_etl_spark.operators.windows import sessionize
    from logicash_etl_spark.queries.streaming import streaming_session_windows

    got = {
        (r.user_id, r.session_start): (r.n_events, round(r.total_value, 2))
        for r in streaming_session_windows(spark, sf_smoke).collect()
    }
    assert got, "no sessions emitted"

    ev = read_table(spark, sf_smoke, "events")
    batch = (
        sessionize(ev, "user_id", "ts", gap_seconds=1800)
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_last"),
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2).alias("total_value"),
        )
    )
    horizon = ev.agg(F.max("ts")).collect()[0][0]
    import datetime
    closed_before = horizon - datetime.timedelta(hours=1)
    want = {}
    for r in batch.collect():
        # streaming emits sessions whose (last_event + gap) end is past
        # the final watermark; sessions near the horizon may be held
        if r.session_last + datetime.timedelta(minutes=30) < closed_before:
            want[(r.user_id, r.session_start)] = (r.n_events, round(r.total_value, 2))
    missing = {k: v for k, v in want.items() if k not in got}
    assert not missing, f"{len(missing)} closed sessions not emitted: {list(missing)[:3]}"
    for k, v in want.items():
        assert got[k] == v, f"session {k}: stream={got[k]} batch={v}"


def test_streaming_dedup_lot_really_contains_duplicates(spark, sf_dir):
    """Guard the fixture: the synthesized at-least-once lot must hold
    MORE rows than the source table (a filter that matches nothing
    would make the dedup query pass trivially), and the deduped result
    must remove exactly the surplus."""
    from logicash_etl_spark.queries import QUERIES
    from logicash_etl_spark.queries.streaming import _LOT_CACHE
    from logicash_etl_spark.sources.readers import read_table

    n_dedup = sum(
        r.n_unique for r in QUERIES["streaming_dedup_counts"](spark, sf_dir).collect()
    )
    ev_rows = read_table(spark, sf_dir, "events").count()
    lot = _LOT_CACHE[f"{sf_dir}::dup"]
    lot_rows = spark.read.parquet(lot).count()
    assert lot_rows > ev_rows, "duplicate synthesis selected nothing"
    assert n_dedup == ev_rows


def test_custom_lot_stream_source_consumes_new_lots_exactly_once(
    spark, tmp_path
):
    """Custom streaming source over the _READY protocol (Spark 4
    SimpleDataSourceStreamReader): lots visible at start are consumed;
    a lot added afterwards is picked up by a later drain from the SAME
    checkpoint exactly once; an unflagged lot is never read."""
    import os

    from logicash_etl_spark.sources.lot_datasource import register_lot_source

    def make_lot(name, rows, ready=True):
        d = os.path.join(str(tmp_path / "lots"), name, "t")
        os.makedirs(d)
        with open(os.path.join(d, "part-0.csv"), "w") as fh:
            fh.write("id,v\n")
            for r in rows:
                fh.write(f"{r},{r * 1.5}\n")
        if ready:
            with open(os.path.join(str(tmp_path / "lots"), name, "_READY"), "w") as fh:
                fh.write("ok\n")

    register_lot_source(spark)
    root = str(tmp_path / "lots")
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")
    make_lot("lot_001", [1, 2, 3])
    make_lot("lot_002", [4], ready=False)   # mid-upload

    def drain():
        q = (
            spark.readStream.format("logicash_lot")
            .schema("id long, v double")
            .option("path", root)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    got = {r.id for r in spark.read.parquet(out).collect()}
    assert got == {1, 2, 3}

    # flag lands on lot_002 + a brand new lot appears -> ONLY new data
    with open(os.path.join(root, "lot_002", "_READY"), "w") as fh:
        fh.write("ok\n")
    make_lot("lot_003", [5, 6])
    drain()
    rows = [r.id for r in spark.read.parquet(out).collect()]
    assert sorted(rows) == [1, 2, 3, 4, 5, 6]  # no re-delivery of lot_001


def test_lot_stream_offsets_survive_out_of_order_flags(spark, tmp_path):
    """The flag-arrival-order trap: a lot whose NAME sorts before an
    already-consumed lot gets its _READY flag later (it was mid-upload
    during the first drain). A positional offset would shift the
    sorted listing — re-delivering consumed lots and never delivering
    the late one. Name-set offsets must deliver it exactly once."""
    import os

    from logicash_etl_spark.sources.lot_datasource import register_lot_source

    root = str(tmp_path / "lots")

    def make_lot(name, rows, ready=True):
        d = os.path.join(root, name, "t")
        os.makedirs(d)
        with open(os.path.join(d, "part-0.csv"), "w") as fh:
            fh.write("id,v\n")
            for r in rows:
                fh.write(f"{r},{r * 1.5}\n")
        if ready:
            with open(os.path.join(root, name, "_READY"), "w") as fh:
                fh.write("ok\n")

    register_lot_source(spark)
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")
    # lot_000 is mid-upload (no flag) while lot_001 gets consumed;
    # lot_000 sorts BEFORE lot_001
    make_lot("lot_000", [7, 8], ready=False)
    make_lot("lot_001", [1, 2, 3])

    def drain():
        q = (
            spark.readStream.format("logicash_lot")
            .schema("id long, v double")
            .option("path", root)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    assert sorted(r.id for r in spark.read.parquet(out).collect()) == [1, 2, 3]

    # the late flag lands: lot_000 now inserts BEFORE the consumed
    # position in the sorted listing
    with open(os.path.join(root, "lot_000", "_READY"), "w") as fh:
        fh.write("ok\n")
    drain()
    got = sorted(r.id for r in spark.read.parquet(out).collect())
    assert got == [1, 2, 3, 7, 8]  # 7,8 delivered once; 1,2,3 NOT re-delivered


def test_lot_stream_rejects_consumed_lot_mutation(spark, tmp_path):
    """Exactly-once replay requires consumed lots to stay immutable; a
    batch-side re-commit (append/overwrite) of an already-consumed lot
    must fail the NEXT drain loudly instead of silently never
    delivering the new generation."""
    import os

    from logicash_etl_spark.sources.lot_datasource import register_lot_source

    register_lot_source(spark)
    root = str(tmp_path / "lots")
    lot = f"{root}/lot_a"
    spark.range(5).write.format("logicash_lot").mode("append").option(
        "path", lot
    ).save()
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")

    def drain():
        q = (
            spark.readStream.format("logicash_lot")
            .schema("id long")
            .option("path", root)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    assert sorted(r.id for r in spark.read.parquet(out).collect()) == list(range(5))

    # batch-side append mutates the consumed lot -> next drain fails
    spark.range(5, 8).write.format("logicash_lot").mode("append").option(
        "path", lot
    ).save()
    import pytest as _pytest

    with _pytest.raises(Exception, match="mutated|StreamingQueryException"):
        drain()


def test_lot_stream_max_lots_per_trigger(spark, tmp_path):
    """Admission control: with maxLotsPerTrigger=1 and a 3-lot
    backlog, a continuous trigger admits exactly one lot per
    micro-batch in sorted-name order; nothing is lost or duplicated.
    (AvailableNow snapshots the offset once, so under a cap it drains
    only the first batch — the cap is a continuous-trigger knob.)"""
    import os
    import time

    from logicash_etl_spark.sources.lot_datasource import register_lot_source

    register_lot_source(spark)
    root = str(tmp_path / "lots")
    for i in range(3):
        d = os.path.join(root, f"lot_{i}", "t")
        os.makedirs(d)
        with open(os.path.join(d, "part-0.csv"), "w") as fh:
            fh.write("id\n")
            for r in range(i * 10, i * 10 + 10):
                fh.write(f"{r}\n")
        with open(os.path.join(root, f"lot_{i}", "_READY"), "w") as fh:
            fh.write("ok\n")

    epochs = []

    def fb(bdf, eid):
        epochs.append((eid, sorted(r.id for r in bdf.select("id").collect())))

    st = (
        spark.readStream.format("logicash_lot")
        .schema("id long")
        .option("path", root)
        .option("maxLotsPerTrigger", "1")
        .load()
    )
    q = (
        st.writeStream.foreachBatch(fb)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="1 seconds")
        .start()
    )
    deadline = time.time() + 90
    while len(epochs) < 3 and time.time() < deadline:
        time.sleep(0.5)
    q.stop()
    assert [e[0] for e in epochs[:3]] == [0, 1, 2]
    assert epochs[0][1] == list(range(0, 10))      # one lot per batch,
    assert epochs[1][1] == list(range(10, 20))     # sorted-name order
    assert epochs[2][1] == list(range(20, 30))


def test_lot_stream_rejects_consumed_lot_deletion(spark, tmp_path):
    """Deleting a consumed lot is the same contract violation as
    mutating it — the live read() path must fail the next drain
    loudly, not only the (later, maybe-never) checkpoint replay."""
    import os
    import shutil

    import pytest as _pytest

    from logicash_etl_spark.sources.lot_datasource import register_lot_source

    register_lot_source(spark)
    root = str(tmp_path / "lots")
    spark.range(5).write.format("logicash_lot").mode("append").option(
        "path", f"{root}/lot_a"
    ).save()
    spark.range(5, 9).write.format("logicash_lot").mode("append").option(
        "path", f"{root}/lot_b"
    ).save()
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")

    def drain():
        q = (
            spark.readStream.format("logicash_lot")
            .schema("id long")
            .option("path", root)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    assert sorted(r.id for r in spark.read.parquet(out).collect()) == list(range(9))

    shutil.rmtree(f"{root}/lot_a")
    with _pytest.raises(Exception, match="deleted|mutated|StreamingQueryException"):
        drain()


def _drain_lots_to_parquet(spark, root, ck, out):
    q = (
        spark.readStream.format("logicash_lot")
        .schema("id long")
        .option("path", root)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_lot_stream_quiet_mirrors_reader_decision(spark, tmp_path):
    """The quiet-period detector must say True exactly when a stream
    restart would plan one empty no-new-lots micro-batch, and False on
    every divergence the real reader acts on (new lot, mutated stamp,
    vanished consumed lot, uncommitted batch) — so the fast path can
    never skip a drain or mask a contract violation."""
    register_lot_source(spark)
    root = str(tmp_path / "lots")
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")
    spark.range(5).write.format("logicash_lot").mode("append").option(
        "path", f"{root}/lot_a"
    ).save()

    # before any drain: no checkpoint logs -> not quiet
    assert not lot_stream_quiet(ck, root)

    _drain_lots_to_parquet(spark, root, ck, out)
    assert lot_stream_quiet(ck, root)

    # a new READY lot is new data -> not quiet; the stream picks it up
    # and the detector flips back to quiet afterwards
    spark.range(5, 8).write.format("logicash_lot").mode("append").option(
        "path", f"{root}/lot_b"
    ).save()
    assert not lot_stream_quiet(ck, root)
    _drain_lots_to_parquet(spark, root, ck, out)
    assert lot_stream_quiet(ck, root)
    got = sorted(r.id for r in spark.read.parquet(out).collect())
    assert got == list(range(8))

    # mutated consumed lot (stamp changed) -> not quiet (stream raises)
    flag = f"{root}/lot_a/_READY"
    stamp = open(flag).read()
    with open(flag, "w") as fh:
        fh.write("rows=999 gen=deadbeef")
    assert not lot_stream_quiet(ck, root)
    with open(flag, "w") as fh:
        fh.write(stamp)
    # restoring bytes does NOT restore the stamp: mtime_ns moved
    assert not lot_stream_quiet(ck, root)

    # vanished consumed lot -> not quiet (stream raises)
    saved = str(tmp_path / "saved_lot_b")
    shutil.move(f"{root}/lot_b", saved)
    assert not lot_stream_quiet(ck, root)
    shutil.move(saved, f"{root}/lot_b")

    # uncommitted latest batch (crash between offset write and commit)
    # -> not quiet (the restart must replay the batch)
    commits = sorted(
        f for f in os.listdir(f"{ck}/commits") if f.lstrip("-").isdigit()
    )
    latest = f"{ck}/commits/{commits[-1]}"
    saved_commit = str(tmp_path / "saved_commit")
    shutil.move(latest, saved_commit)
    assert not lot_stream_quiet(ck, root)
    shutil.move(saved_commit, latest)


def test_history_generations_verdicts_and_replay(spark, tmp_path):
    """Eight epochs of the dedup stream's batch body against one
    history store: every epoch's verdicts are the expected statuses,
    the store below epoch 8 is the base plus eight generation dirs,
    and replaying the last epoch (foreachBatch is at-least-once)
    rewrites identical verdicts and the identical generation."""
    from logicash_etl_spark.streaming.history import (
        history_dirs,
        incremental_dedup_batch_fn,
        write_history_base,
    )

    epochs = 8
    hist = str(tmp_path / "hist")
    verd = str(tmp_path / "verd")
    base = spark.createDataFrame(
        [(f"fp_base_{i}",) for i in range(5)], "fp string"
    ).withColumn("origin", F.lit("base"))
    write_history_base(base, hist)
    fn = incremental_dedup_batch_fn(spark, hist, verd)

    def batch(e):
        # each epoch: one base dup, one dup of epoch e-1 (of its own
        # last row at epoch 0), one within-batch dup pair, one unique
        rows = [
            (100 * e + 1, "s", f"fp_base_{e % 5}"),
            (100 * e + 2, "s", f"fp_new_{max(e - 1, 0)}"),
            (100 * e + 3, "s", f"fp_pair_{e}"),
            (100 * e + 4, "s", f"fp_pair_{e}"),
            (100 * e + 5, "s", f"fp_new_{e}"),
        ]
        fn(spark.createDataFrame(rows, "doc_id long, source string, fp string"), e)

    for e in range(epochs):
        batch(e)

    def verdicts():
        return {(r.epoch, r.doc_id, r.status) for r in spark.read.parquet(verd).collect()}

    want = set()
    for e in range(epochs):
        statuses = [
            "dup_of_history",
            "dup_of_earlier_lot" if e else "new_unique",
            "new_unique",
            "dup_in_lot",
            "new_unique" if e else "dup_in_lot",
        ]
        want |= {(e, 100 * e + i + 1, st) for i, st in enumerate(statuses)}
    assert verdicts() == want
    dirs = history_dirs(hist, epochs)
    assert len(dirs) == epochs + 1
    assert dirs == [f"{hist}/base"] + [f"{hist}/gen_epoch{e}" for e in range(epochs)]

    last = f"{hist}/gen_epoch{epochs - 1}"
    gen_before = sorted(r.fp for r in spark.read.parquet(last).collect())
    batch(epochs - 1)
    assert verdicts() == want
    assert sorted(r.fp for r in spark.read.parquet(last).collect()) == gen_before


def test_late_data_split_watermark_metrics(spark, sf_dir):
    """Pins Spark's split watermark on the 3-file late lot: batch 1's
    late rows are GRACED (filter watermark lags one batch — zero rows
    dropped), batch 2's are DROPPED (filter watermark caught up).
    The oracle hash pins the emitted VALUES; this pins the mechanism
    via the per-batch numRowsDroppedByWatermark metrics."""
    import uuid

    from logicash_etl_spark import schemas as S
    from logicash_etl_spark.queries.streaming import _late_events_lot
    from logicash_etl_spark.streaming.ops import windowed_counts
    from logicash_etl_spark.streaming.sources import stream_parquet_dir
    from logicash_etl_spark.tmp import session_tmpdir

    lot = _late_events_lot(spark, sf_dir)
    stream = stream_parquet_dir(spark, lot, S.EVENTS, max_files_per_trigger=1)
    agg = windowed_counts(stream)
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(f"late_metrics_drain_{uuid.uuid4().hex[:8]}")
        .option("checkpointLocation", session_tmpdir("lq_late_metrics_") + "/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(progress) == 3, "expected one micro-batch per lot file"
    dropped = [p["stateOperators"][0]["numRowsDroppedByWatermark"] for p in progress]
    # batch 0: watermark zero; batch 1: filter watermark still lags at
    # zero (grace) despite eviction running at batch 0's mark
    assert dropped[0] == 0 and dropped[1] == 0
    # batch 2: filter watermark caught up -> late rows actually drop
    assert dropped[2] > 0
    # and the graced batch-1 rows were MERGED, not silently discarded:
    # zero drops + state-store row updates in the same batch means the
    # late input reached the aggregation state (the values themselves
    # are pinned by the query's oracle hash)
    assert progress[1]["stateOperators"][0]["numRowsUpdated"] > 0


def test_warm_redrain_returns_identical_results(spark, sf_smoke):
    """The drain-lifecycle contract (queries/streaming module
    docstring): a second invocation in the same process re-starts the
    checkpointed query, drains zero new files, and returns EXACTLY the
    rows of the first (cold) drain — for an aggregate drain, a
    stream-stream join drain, and the foreachBatch upsert drain."""
    from logicash_etl_spark.queries import QUERIES

    for name in (
        "streaming_tumbling_counts",
        "streaming_interval_join",
        "streaming_upsert_scd1",
    ):
        cold = sorted(map(str, QUERIES[name](spark, sf_smoke).collect()))
        warm = sorted(map(str, QUERIES[name](spark, sf_smoke).collect()))
        assert cold == warm, name
        assert cold, name


def test_streaming_incremental_dedup_warm_fastpath_identical(spark, sf_smoke):
    """The warm quiet-period fast path (sink readback without a stream
    restart) must return byte-identical verdicts to the cold drain —
    and a second warm call must stay identical too (the memoized drain
    state is not consumed by the fast path)."""
    from logicash_etl_spark.queries import QUERIES
    from logicash_etl_spark.queries import streaming as _sq

    # fresh drain state for this test regardless of what ran before
    _sq._DRAIN_MEMO.pop(("incremental_dedup", os.path.abspath(sf_smoke)), None)
    cold = sorted(
        map(tuple, QUERIES["streaming_incremental_dedup"](spark, sf_smoke).collect())
    )
    state = _sq._drain_state("incremental_dedup", sf_smoke, "lq_inc_stream_")
    assert state["cold"] is False  # second _drain_state call is warm
    assert lot_stream_quiet(f"{state['root']}/ckpt", f"{state['root']}/lots")
    warm1 = sorted(
        map(tuple, QUERIES["streaming_incremental_dedup"](spark, sf_smoke).collect())
    )
    warm2 = sorted(
        map(tuple, QUERIES["streaming_incremental_dedup"](spark, sf_smoke).collect())
    )
    assert warm1 == cold
    assert warm2 == cold


def test_failed_cold_drain_never_warms():
    """A drain that RAISES must not warm the memo (round-7 ADVICE #1):
    a harness that swallows exceptions retries, so if a failed cold drain
    flipped the state warm, the retry would skip fixture setup (lot
    production, history base) and silently drain nothing. Contract:
    warmth is recorded only by _mark_drained after a successful drain;
    an unmarked entry is discarded and the retry cold-drains on a
    FRESH root (the abandoned root may hold a half-written checkpoint
    or partially-produced lots)."""
    from logicash_etl_spark.queries import streaming as sq

    key_name, key_dir = "unit_test_drain", "/tmp/lq_unit_sfdir"
    s1 = sq._drain_state(key_name, key_dir, "lq_unit_")
    assert s1["cold"] and not s1["done"]
    # the drain raises here -> _mark_drained never runs
    s2 = sq._drain_state(key_name, key_dir, "lq_unit_")
    assert s2["cold"], "retry after a failed drain must be COLD"
    assert s2["root"] != s1["root"], "retry must not resume the corrupt root"
    # successful drain -> warm incremental path from then on
    sq._mark_drained(s2)
    s3 = sq._drain_state(key_name, key_dir, "lq_unit_")
    assert s3 is s2 and not s3["cold"] and s3["root"] == s2["root"]
    del sq._DRAIN_MEMO[(key_name, __import__("os").path.abspath(key_dir))]
