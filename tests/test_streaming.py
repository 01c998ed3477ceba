"""Structured Streaming: stream results must agree with the oracle-checked
batch formulations (the streaming correctness contract)."""
import datetime as dt

import pytest

from etl_for_all_studies_spark.streaming.events import (
    EVENT_SCHEMA,
    hourly_counts,
    read_events_stream,
    run_to_memory_sink,
    sessionize,
)


def _write_events(path, rows, start_id=0):
    """Write one FLAT parquet file (the file-stream source does not recurse
    into Spark's per-write output directories)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    data = [
        (start_id + i, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s), u, t, v, "{}")
        for i, (s, u, t, v) in enumerate(rows)
    ]
    table = pa.table(
        {
            "event_id": pa.array([d[0] for d in data], pa.int64()),
            "ts": pa.array([d[1] for d in data], pa.timestamp("us")),
            "user_id": pa.array([d[2] for d in data], pa.int64()),
            "event_type": pa.array([d[3] for d in data], pa.string()),
            "value": pa.array([d[4] for d in data], pa.float64()),
            "props": pa.array([d[5] for d in data], pa.string()),
        }
    )
    pq.write_table(table, str(path))


@pytest.fixture()
def event_files(spark, tmp_path):
    """Two parquet files → two micro-batches; user 1 has a session spanning
    both files (stitched via state), then a >30min gap closing it."""
    d = tmp_path / "stream_in"
    d.mkdir()
    _write_events(
        d / "f1.parquet",
        [
            (0, 1, "click", 1.0),
            (60, 1, "click", 2.0),
            (120, 2, "view", 5.0),
        ],
    )
    _write_events(
        d / "f2.parquet",
        [
            (180, 1, "click", 3.0),  # continues user 1's open session
            (180 + 45 * 60, 1, "click", 4.0),  # >30min gap → closes it
            (200, 2, "view", 1.0),
        ],
        start_id=3,
    )
    # the file source orders micro-batches by modification time; pin
    # f1 < f2 so the two files are always the two batches in that order
    import os

    for i, name in enumerate(["f1.parquet", "f2.parquet"]):
        os.utime(d / name, (1_700_000_000 + 100 * i,) * 2)
    return d


def test_windowed_counts_match_batch(spark, event_files):
    stream = read_events_stream(spark, str(event_files))
    assert stream.isStreaming
    run_to_memory_sink(
        hourly_counts(stream), "hourly_test", output_mode="complete"
    )
    got = {
        (r["hour_us"], r["event_type"]): r["n_events"]
        for r in spark.sql("SELECT * FROM hourly_test").collect()
    }
    batch = spark.read.schema(EVENT_SCHEMA).parquet(str(event_files))
    from pyspark.sql import functions as F

    expected = {
        (r["hour_us"], r["event_type"]): r["n"]
        for r in batch.groupBy(
            F.unix_micros(F.date_trunc("hour", "ts")).alias("hour_us"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == expected
    assert sum(got.values()) == 6


def test_sessionize_group_multichunk_out_of_order():
    """applyInPandasWithState may split one group's micro-batch into several
    pandas chunks in arbitrary order; session folding must sort globally, not
    per chunk (per-chunk sorting walks event time backwards and never closes
    the gap)."""
    import pandas as pd

    from etl_for_all_studies_spark.streaming.events import _sessionize_group

    class FakeState:
        def __init__(self):
            self._v = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)

    base = pd.Timestamp("2024-01-01")

    def chunk(seconds, values):
        return pd.DataFrame(
            {
                "user_id": [7] * len(seconds),
                "ts": [base + pd.Timedelta(seconds=s) for s in seconds],
                "value": values,
            }
        )

    # delivered out of order: the 50-min event arrives in the FIRST chunk
    chunks = [chunk([50 * 60], [4.0]), chunk([0, 60], [1.0, 2.0])]
    state = FakeState()
    out = list(_sessionize_group((7,), iter(chunks), state))
    assert len(out) == 1
    closed = out[0].iloc[0]
    # globally sorted: events at 0s,60s form the closed session; 50min opens a new one
    base_us = int(base.value) // 1_000
    assert closed["session_start_us"] == base_us
    assert closed["n_events"] == 2
    assert closed["duration_us"] == 60 * 1_000_000
    assert closed["sum_value"] == pytest.approx(3.0)
    open_us = base_us + 50 * 60 * 1_000_000
    assert state.get == (open_us, open_us, 1, 4.0)


def test_watermark_drops_late_events_batch_keeps_them(spark, tmp_path):
    """Negative watermark test: a late event targeting an ALREADY-EMITTED
    window must be dropped by the watermark (never re-emitting or corrupting
    the finalized window), while the batch twin still counts it.

    Spark's watermark contract is one-sided ("data delayed more than the
    watermark may or may not be dropped"): the late filter applies the
    watermark with one micro-batch of lag, so the drop is only guaranteed
    once a prior batch has committed the advanced watermark — hence the
    three-file staging here (advance → commit → late arrival).
    """
    d = tmp_path / "late_in"
    d.mkdir()
    hour = 3600
    # batch 0: two on-time events in hour 0; one at hour 10 that advances
    # event time (watermark becomes 8h at this batch's commit)
    _write_events(
        d / "f1.parquet",
        [(0, 1, "click", 1.0), (120, 1, "click", 1.0), (10 * hour, 1, "click", 1.0)],
    )
    # batch 1: on-time filler; runs under the committed 8h watermark, which
    # finalizes + emits the hour-0 window (append mode) and evicts its state
    _write_events(d / "f2.parquet", [(10 * hour + 600, 1, "click", 1.0)], start_id=3)
    # batch 2: a LATE event back into hour 0 — its window end (1h) is far
    # behind the 8h watermark and the window was already emitted → dropped
    _write_events(d / "f3.parquet", [(300, 2, "click", 7.0)], start_id=4)
    # the file source orders micro-batches by modification time; pin distinct
    # mtimes so the staging above is the actual batch order
    import os

    for i, name in enumerate(["f1.parquet", "f2.parquet", "f3.parquet"]):
        os.utime(d / name, (1_700_000_000 + 100 * i,) * 2)
    stream = read_events_stream(spark, str(d))
    run_to_memory_sink(
        hourly_counts(stream, watermark="2 hours"), "late_test", output_mode="append"
    )
    got = {
        (r["hour_us"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM late_test").collect()
    }
    # exactly ONE hour-0 row, with on-time counts only: the late event neither
    # re-emitted the window nor leaked into it; hour-10 stays open (unemitted)
    base_us = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    assert got == {(base_us, "click"): (2, 2.0)}
    # the batch twin (no watermark) still counts the late row
    from pyspark.sql import functions as F

    batch = spark.read.schema(EVENT_SCHEMA).parquet(str(d))
    expected = {
        (r["hour_us"], r["event_type"]): r["n"]
        for r in batch.groupBy(
            F.unix_micros(F.date_trunc("hour", "ts")).alias("hour_us"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert expected[(base_us, "click")] == 3  # late row present in batch


def test_stateful_sessionize_stitches_across_batches(spark, event_files):
    stream = read_events_stream(spark, str(event_files))
    run_to_memory_sink(sessionize(stream), "sessions_test", output_mode="append")
    rows = spark.sql("SELECT * FROM sessions_test").collect()
    # only user 1's first session is CLOSED (by the 45-min gap); it must span
    # both micro-batches: events at 0s, 60s (batch 1) and 180s (batch 2)
    assert len(rows) == 1
    s = rows[0].asDict()
    assert s["user_id"] == 1
    assert s["n_events"] == 3  # stitched across the file boundary
    assert s["duration_us"] == 180 * 1_000_000
    assert s["sum_value"] == pytest.approx(6.0)


def test_stream_dedup_drops_redelivered_events(spark, tmp_path):
    from etl_for_all_studies_spark.streaming.events import dedup_events

    d = tmp_path / "dedup_in"
    d.mkdir()
    rows = [(0, 1, "click", 1.0), (60, 1, "click", 2.0), (120, 2, "view", 5.0)]
    _write_events(d / "f1.parquet", rows)
    # redelivery: same event_ids again (plus one genuinely new event) in a
    # second file → second micro-batch, well inside the watermark horizon
    _write_events(d / "f2.parquet", rows[:2])
    _write_events(d / "f3.parquet", [(240, 3, "view", 7.0)], start_id=100)

    stream = read_events_stream(spark, str(d))
    run_to_memory_sink(dedup_events(stream), "dedup_test", output_mode="append")
    got = sorted(
        r["event_id"] for r in spark.sql("SELECT * FROM dedup_test").collect()
    )
    assert got == [0, 1, 2, 100]  # each id exactly once

    # batch twin: unbounded dropDuplicates agrees
    batch = spark.read.schema(EVENT_SCHEMA).parquet(str(d))
    assert sorted(
        r["event_id"]
        for r in batch.dropDuplicates(["event_id"]).select("event_id").collect()
    ) == got


def test_stream_quality_annotation_matches_batch(spark, tmp_path):
    """The curation annotators are stateless projections, so they must run
    unchanged on a stream and agree row-for-row with the batch plan."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from etl_for_all_studies_spark.operators.quality import annotate_quality

    d = tmp_path / "docs_in"
    d.mkdir()
    texts = [
        # 40 distinct ~4-char words + one stopword: passes every rule
        "the " + " ".join(f"w{i:02d}a" for i in range(39)),
        "short",
        "",
        "a a a a a a a a a a a a a a a a a a a a a a a a a a a a a a a a",
    ]
    table = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts, pa.string()),
        }
    )
    pq.write_table(table, str(d / "f1.parquet"))

    schema = "doc_id long, text string"
    stream = spark.readStream.schema(schema).parquet(str(d))
    run_to_memory_sink(annotate_quality(stream), "quality_stream")
    got = {
        r["doc_id"]: r.asDict()
        for r in spark.sql("SELECT * FROM quality_stream").collect()
    }
    want = {
        r["doc_id"]: r.asDict()
        for r in annotate_quality(
            spark.read.schema(schema).parquet(str(d))
        ).collect()
    }
    assert got == want
    assert {k: v["keep"] for k, v in want.items()} == {0: 1, 1: 0, 2: 0, 3: 0}


def test_stream_stream_click_attribution_matches_batch(spark, tmp_path):
    """Watermarked interval join (view→click attribution): bounded state on
    both sides; results agree with the identical batch join."""
    from etl_for_all_studies_spark.streaming.events import attribute_clicks

    d = tmp_path / "attr_in"
    d.mkdir()
    # user 1: view at t=0, clicks at t=10min (attributed) and t=50min (outside
    # the 30min window); user 2: click with no prior view; user 3: two views
    # then one click → two attributed pairs
    _write_events(
        d / "f1.parquet",
        [
            (0, 1, "view", 1.5),
            (600, 1, "click", 0.0),
            (3000, 1, "click", 0.0),
            (100, 2, "click", 0.0),
            (0, 3, "view", 2.0),
            (60, 3, "view", 3.0),
        ],
    )
    _write_events(d / "f2.parquet", [(120, 3, "click", 0.0)], start_id=6)

    def split(df):
        views = df.where(df.event_type == "view")
        clicks = df.where(df.event_type == "click")
        return views, clicks

    stream = read_events_stream(spark, str(d))
    run_to_memory_sink(
        attribute_clicks(*split(stream), attribution_window="30 minutes"),
        "attr_stream",
    )
    got = sorted(
        (r["click_event_id"], r["view_ts_us"])
        for r in spark.sql("SELECT * FROM attr_stream").collect()
    )
    batch = spark.read.schema(EVENT_SCHEMA).parquet(str(d))
    want = sorted(
        (r["click_event_id"], r["view_ts_us"])
        for r in attribute_clicks(
            *split(batch), attribution_window="30 minutes"
        ).collect()
    )
    assert got == want
    # event 1 (10min click): attributed; event 2 (50min): outside window;
    # event 3 (user 2): no view; event 6 (user 3): both views attributed
    assert [eid for eid, _ in got] == [1, 6, 6]


def test_stream_ingest_corpus_exactly_once_across_restarts(spark, tmp_path):
    """File-source + checkpointed file-sink ingestion: draining, adding more
    shards, and draining again must land every doc exactly once — the
    checkpoint carries source progress across restarts."""
    import json as _json

    from pyspark.sql import functions as F

    from etl_for_all_studies_spark.operators.quality import annotate_quality
    from etl_for_all_studies_spark.streaming.corpus import (
        read_corpus_stream,
        stream_ingest_corpus,
    )

    src = tmp_path / "shards"
    src.mkdir()
    out = str(tmp_path / "landed")
    ckpt = str(tmp_path / "ckpt")

    def shard(name, ids):
        rows = [
            {"doc_id": i, "text": f"doc {i} body words here", "lang": "en",
             "source": "s", "n_chars": 20}
            for i in ids
        ]
        (src / name).write_text("\n".join(_json.dumps(r) for r in rows))

    shard("a.jsonl", [1, 2, 3])
    stream_ingest_corpus(
        read_corpus_stream(spark, str(src)), out, ckpt,
        transform=annotate_quality,
    )
    first = spark.read.parquet(out)
    assert sorted(r.doc_id for r in first.select("doc_id").collect()) == [1, 2, 3]
    assert "keep" in first.columns  # transform stage applied

    # "restart": new shard arrives, the old one must NOT be re-ingested
    shard("b.jsonl", [4, 5])
    stream_ingest_corpus(
        read_corpus_stream(spark, str(src)), out, ckpt,
        transform=annotate_quality,
    )
    again = spark.read.parquet(out)
    assert sorted(r.doc_id for r in again.select("doc_id").collect()) == [1, 2, 3, 4, 5]
    assert again.groupBy("doc_id").count().where(F.col("count") > 1).count() == 0


def test_native_session_window_stream_matches_batch(spark, event_files):
    """The declarative session_window path (vs sessionize's arbitrary-state
    formulation): streamed sessions must equal the batch session_window run
    over the same files. Complete mode — sessions merge across micro-batches
    (user 1's session spans both files) and the final state is compared."""
    from pyspark.sql import functions as F

    from etl_for_all_studies_spark.streaming.events import session_aggregates

    stream = read_events_stream(spark, str(event_files))
    run_to_memory_sink(
        session_aggregates(stream), "native_sessions_test", output_mode="complete"
    )
    got = {
        (r["user_id"], r["session_start_us"]): (
            r["session_end_us"], r["n_events"], r["sum_value"]
        )
        for r in spark.sql("SELECT * FROM native_sessions_test").collect()
    }

    batch = spark.read.schema(EVENT_SCHEMA).parquet(str(event_files))
    expected = {
        (r["user_id"], r["session_start_us"]): (
            r["session_end_us"], r["n_events"], r["sum_value"]
        )
        for r in (
            batch.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 2).alias("sum_value"))
            .select("user_id",
                    F.unix_micros(F.col("w.start")).alias("session_start_us"),
                    F.unix_micros(F.col("w.end")).alias("session_end_us"),
                    "n_events", "sum_value")
        ).collect()
    }
    assert got == expected
    # fixture invariants: user 1's stitched session has 3 events, then a
    # second session after the 45-min gap; user 2 has one 2-event session
    base_us = 1704067200000000  # 2024-01-01T00:00:00Z
    assert got[(1, base_us)][1] == 3
    assert got[(1, base_us + (180 + 45 * 60) * 1_000_000)][1] == 1
    assert got[(2, base_us + 120 * 1_000_000)][1] == 2


def test_stream_shard_and_canonical_annotation_matches_batch(spark, tmp_path):
    """Shard assignment and canonical-form digesting are stateless
    projections — the deterministic-hash contract means a streamed document
    gets the SAME shard and canonical hash as a batch (or re-run) one, so
    incremental ingestion composes with sharded training output."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from etl_for_all_studies_spark.operators.sharding import assign_shards
    from etl_for_all_studies_spark.operators.textops import canonicalize_text

    d = tmp_path / "docs_in"
    d.mkdir()
    table = pa.table(
        {
            "doc_id": pa.array(range(8), pa.int64()),
            "text": pa.array([f"Doc {i}!" for i in range(8)], pa.string()),
        }
    )
    pq.write_table(table, str(d / "f1.parquet"))

    schema = "doc_id long, text string"

    def annotate(df):
        return assign_shards(df, n_shards=4).withColumn(
            "canon_hash", F.md5(canonicalize_text(F.col("text")))
        )

    stream = spark.readStream.schema(schema).parquet(str(d))
    run_to_memory_sink(annotate(stream), "shard_stream")
    got = {
        r["doc_id"]: (r["shard"], r["canon_hash"])
        for r in spark.sql("SELECT * FROM shard_stream").collect()
    }
    want = {
        r["doc_id"]: (r["shard"], r["canon_hash"])
        for r in annotate(spark.read.schema(schema).parquet(str(d))).collect()
    }
    assert got == want and len(got) == 8


def test_stream_apply_changelog_versions_and_exactly_once(spark, tmp_path):
    """CDC stream → versioned table snapshots: draining a changelog, adding
    more changes, and draining again (restart) must produce the same state
    as one batch apply of the full log — and the first batch must NOT be
    re-applied (checkpointed source progress)."""
    import json as _json

    from etl_for_all_studies_spark.operators.diff import apply_changelog
    from etl_for_all_studies_spark.streaming.cdc import (
        read_table_state,
        stream_apply_changelog,
    )

    src = tmp_path / "changes"
    src.mkdir()
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    schema = "id long, name string, price double, op string, seq long"

    def shard(name, rows):
        (src / name).write_text(
            "\n".join(
                _json.dumps(dict(zip(["id", "name", "price", "op", "seq"], r)))
                for r in rows
            )
        )

    def stream():
        return spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", "1"
        ).json(str(src))

    batch1 = [(1, "a", 10.0, "U", 1), (2, "b", 20.0, "U", 2), (3, "c", 30.0, "U", 3)]
    shard("c1.jsonl", batch1)
    stream_apply_changelog(stream(), table, ckpt, keys=["id"])
    s1 = {r["id"]: (r["name"], r["price"])
          for r in read_table_state(spark, table).collect()}
    assert s1 == {1: ("a", 10.0), 2: ("b", 20.0), 3: ("c", 30.0)}

    # restart with new changes: update 1, delete 2, insert 4
    batch2 = [(1, "a2", 11.0, "U", 4), (2, None, None, "D", 5), (4, "d", 40.0, "U", 6)]
    shard("c2.jsonl", batch2)
    stream_apply_changelog(stream(), table, ckpt, keys=["id"])
    s2 = {r["id"]: (r["name"], r["price"])
          for r in read_table_state(spark, table).collect()}
    assert s2 == {1: ("a2", 11.0), 3: ("c", 30.0), 4: ("d", 40.0)}

    # parity with ONE batch apply of the concatenated log
    all_changes = spark.createDataFrame(batch1 + batch2, schema)
    base = all_changes.select("id", "name", "price").limit(0)
    twin = {r["id"]: (r["name"], r["price"])
            for r in apply_changelog(base, all_changes, ["id"]).collect()}
    assert twin == s2

    # replay algebra: re-merging an applied batch is a no-op
    replay = apply_changelog(
        read_table_state(spark, table),
        spark.createDataFrame(batch2, schema),
        ["id"],
    )
    assert {r["id"]: (r["name"], r["price"]) for r in replay.collect()} == s2


def test_stream_apply_changelog_crash_window_replay_is_skipped(spark, tmp_path):
    """Crash between the _VERSION flip and the streaming-checkpoint commit:
    on restart the source replays the batch whose snapshot is ALREADY live.
    The apply must short-circuit (pointer >= batch_id) — the naive path
    would lazily read v=<id> while overwriting it, which Spark forbids —
    and the table state must be unchanged."""
    import json as _json
    import shutil

    from etl_for_all_studies_spark.streaming.cdc import (
        read_table_state,
        stream_apply_changelog,
    )

    src = tmp_path / "changes"
    src.mkdir()
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    schema = "id long, name string, price double, op string, seq long"
    rows = [(1, "a", 10.0, "U", 1), (2, "b", 20.0, "U", 2)]
    (src / "c1.jsonl").write_text(
        "\n".join(
            _json.dumps(dict(zip(["id", "name", "price", "op", "seq"], r)))
            for r in rows
        )
    )

    def stream():
        return spark.readStream.schema(schema).json(str(src))

    # simulate the crash: snapshot ckpt BEFORE the run, restore it AFTER —
    # the table keeps v=0 + pointer, but source progress is lost, so the
    # restarted query re-delivers batch 0 against an already-live v=0
    stream_apply_changelog(stream(), table, ckpt, keys=["id"])
    before = {r["id"]: (r["name"], r["price"])
              for r in read_table_state(spark, table).collect()}
    shutil.rmtree(ckpt)  # lose checkpoint entirely → batch 0 replays

    stream_apply_changelog(stream(), table, ckpt, keys=["id"])
    after = {r["id"]: (r["name"], r["price"])
             for r in read_table_state(spark, table).collect()}
    assert after == before == {1: ("a", 10.0), 2: ("b", 20.0)}


def test_stream_apply_changelog_checkpoint_loss_with_new_data_fails_loudly(
    spark, tmp_path
):
    """Checkpoint loss with NEW source files accumulated since: batch ids
    restart at 0, so the replayed batch 0 carries old+new rows while the
    table pointer is already past it. Silently skipping would drop the new
    changes forever (the fresh checkpoint then marks those files
    processed) — the apply must raise instead (live > batch_id)."""
    import json as _json
    import shutil

    import pytest as _pytest

    from etl_for_all_studies_spark.streaming.cdc import (
        read_table_state,
        stream_apply_changelog,
    )

    src = tmp_path / "changes_mismatch"
    src.mkdir()
    table = str(tmp_path / "table_mismatch")
    ckpt = str(tmp_path / "ckpt_mismatch")
    schema = "id long, name string, price double, op string, seq long"

    def write(fname, rows):
        (src / fname).write_text(
            "\n".join(
                _json.dumps(dict(zip(["id", "name", "price", "op", "seq"], r)))
                for r in rows
            )
        )

    def stream():
        return spark.readStream.schema(schema).json(str(src))

    write("c1.jsonl", [(1, "a", 10.0, "U", 1)])
    stream_apply_changelog(stream(), table, ckpt, keys=["id"])  # batch 0
    write("c2.jsonl", [(2, "b", 20.0, "U", 2)])
    stream_apply_changelog(stream(), table, ckpt, keys=["id"])  # batch 1
    assert {r["id"] for r in read_table_state(spark, table).collect()} == {1, 2}

    shutil.rmtree(ckpt)  # checkpoint lost entirely
    write("c3.jsonl", [(3, "c", 30.0, "U", 3)])  # NEW data since the loss
    # restarted query re-delivers EVERYTHING as batch 0 while live == 1
    with _pytest.raises(Exception, match="checkpoint/table mismatch"):
        stream_apply_changelog(stream(), table, ckpt, keys=["id"])
    # table untouched — operator decides how to reconcile
    assert {r["id"] for r in read_table_state(spark, table).collect()} == {1, 2}


def test_stream_apply_changelog_single_batch_checkpoint_loss_fingerprint(
    spark, tmp_path
):
    """ADVICE r5: checkpoint lost after EXACTLY ONE committed batch, with
    new source files since — the restarted query redelivers batch 0 with
    live == 0, so the id-equality guard alone would silently skip the new
    rows. The per-version content fingerprint must catch the mismatch and
    raise; a byte-identical single-batch replay must still skip cleanly."""
    import json as _json
    import shutil

    import pytest as _pytest

    from etl_for_all_studies_spark.streaming.cdc import (
        read_table_state,
        stream_apply_changelog,
    )

    src = tmp_path / "changes_fpr"
    src.mkdir()
    table = str(tmp_path / "table_fpr")
    ckpt = str(tmp_path / "ckpt_fpr")
    schema = "id long, name string, price double, op string, seq long"

    def write(fname, rows):
        (src / fname).write_text(
            "\n".join(
                _json.dumps(dict(zip(["id", "name", "price", "op", "seq"], r)))
                for r in rows
            )
        )

    def stream():
        return spark.readStream.schema(schema).json(str(src))

    write("c1.jsonl", [(1, "a", 10.0, "U", 1)])
    stream_apply_changelog(stream(), table, ckpt, keys=["id"])  # batch 0
    shutil.rmtree(ckpt)  # checkpoint lost with only v=0 committed
    write("c2.jsonl", [(2, "b", 20.0, "U", 2)])  # NEW data since the loss
    # restarted query redelivers everything as batch 0; live == 0 but the
    # content differs → must raise, not skip
    with _pytest.raises(Exception, match="checkpoint/table mismatch"):
        stream_apply_changelog(stream(), table, ckpt, keys=["id"])
    assert {r["id"] for r in read_table_state(spark, table).collect()} == {1}


def test_stream_left_outer_attribution_emits_orphans_after_watermark(spark, tmp_path):
    """Left-outer watermarked interval join: matched clicks attribute like
    the inner form; an unmatched click is emitted with NULL view columns —
    but only once the watermark proves no qualifying view can still arrive
    (advanced here by later files; one micro-batch per file)."""
    from etl_for_all_studies_spark.streaming.events import (
        attribute_clicks_with_orphans,
        read_events_stream,
        run_to_memory_sink,
    )

    d = tmp_path / "attr_outer"
    d.mkdir()
    # user 1: view then click (matched); user 2: click with no view (orphan)
    _write_events(
        d / "f1.parquet",
        [(0, 1, "view", 1.5), (600, 1, "click", 0.0), (100, 2, "click", 0.0)],
    )
    # watermark advancers at 5h and 10h — on BOTH streams: the global
    # watermark is the MIN across the join's inputs, so a view-only advancer
    # would leave the click side (and thus the join state) pinned at t~0.
    # The orphan can only be finalized in a batch whose STARTING watermark
    # has passed it, hence two advancing batches. Each advancer pair
    # matches itself (same user, same instant).
    _write_events(
        d / "f2.parquet",
        [(18_000, 9, "view", 0.0), (18_000, 9, "click", 0.0)], start_id=10,
    )
    _write_events(
        d / "f3.parquet",
        [(36_000, 9, "view", 0.0), (36_000, 9, "click", 0.0)], start_id=12,
    )

    stream = read_events_stream(spark, str(d))
    views = stream.where(stream.event_type == "view")
    clicks = stream.where(stream.event_type == "click")
    run_to_memory_sink(
        attribute_clicks_with_orphans(views, clicks, attribution_window="30 minutes"),
        "attr_outer",
    )
    rows = {
        r["click_event_id"]: r.asDict()
        for r in spark.sql("SELECT * FROM attr_outer").collect()
    }
    base_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in epoch micros
    assert rows[1]["matched"] == 1 and rows[1]["view_ts_us"] == base_us
    assert rows[1]["view_value"] == 1.5
    assert rows[2]["matched"] == 0
    assert rows[2]["view_ts_us"] is None and rows[2]["view_value"] is None
    # advancer clicks matched their simultaneous views — MATCHED pairs emit
    # in the batch where both sides meet (no watermark wait); only orphan
    # finalization waits for the watermark
    assert rows[11]["matched"] == 1 and rows[13]["matched"] == 1
    assert set(rows) == {1, 2, 11, 13}


def test_stream_drift_monitor_scores_batches_against_frozen_reference(spark, tmp_path):
    """Per-micro-batch PSI audit: an in-distribution batch lands in the
    stable band (< 0.1), a shifted batch in the alert band (> 0.25); one
    audit row per (batch, group); restart drains only new files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_for_all_studies_spark.streaming.monitoring import stream_monitor_drift

    src = tmp_path / "metrics"
    src.mkdir()
    audit = str(tmp_path / "audit")
    ckpt = str(tmp_path / "ckpt")

    def shard(name, vals):
        pq.write_table(
            pa.table({
                "grp": pa.array(["g"] * len(vals), pa.string()),
                "v": pa.array(vals, pa.float64()),
            }),
            str(src / name),
        )

    reference = spark.createDataFrame(
        [("g", float(i % 100)) for i in range(2000)], "grp string, v double"
    )
    shard("b0.parquet", [float((i * 7) % 100) for i in range(1000)])   # in-dist
    shard("b1.parquet", [70.0 + float(i % 100) for i in range(1000)])  # shifted

    def stream():
        return (
            spark.readStream.schema("grp string, v double")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )

    stream_monitor_drift(
        stream(), reference, audit, ckpt, group_cols=["grp"], value_col="v"
    )
    rows = {r["batch_id"]: r.asDict() for r in spark.read.parquet(audit).collect()}
    assert len(rows) == 2
    scores = sorted(v["psi"] for v in rows.values())
    assert scores[0] < 0.1 and scores[1] > 0.25
    assert all(v["n_cmp"] == 1000 and v["n_ref"] == 2000 for v in rows.values())

    # restart: only the NEW file is scored
    shard("b2.parquet", [float(i % 100) for i in range(500)])
    stream_monitor_drift(
        stream(), reference, audit, ckpt, group_cols=["grp"], value_col="v"
    )
    after = spark.read.parquet(audit).count()
    assert after == 3


def test_vacuum_table_keeps_live_and_recent_versions(spark, tmp_path):
    """Vacuum removes old snapshot versions but never the live one (even if
    the pointer lags behind newer directories) nor the keep_last newest."""
    import json as _json
    import os

    from etl_for_all_studies_spark.streaming.cdc import (
        read_table_state,
        stream_apply_changelog,
        vacuum_table,
    )

    src = tmp_path / "chg"
    src.mkdir()
    table = str(tmp_path / "tbl")
    schema = "id long, name string, op string, seq long"
    for i in range(4):  # four files → four batches → versions v=0..3
        (src / f"c{i}.jsonl").write_text(
            _json.dumps({"id": i, "name": f"n{i}", "op": "U", "seq": i})
        )
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).json(str(src))
    stream_apply_changelog(stream, table, str(tmp_path / "ck"), keys=["id"])

    vdirs = sorted(d for d in os.listdir(table) if d.startswith("v="))
    assert vdirs == ["v=0", "v=1", "v=2", "v=3"]
    deleted = vacuum_table(table, keep_last=2)
    assert deleted == ["0", "1"]
    assert sorted(d for d in os.listdir(table) if d.startswith("v=")) == ["v=2", "v=3"]
    # live state still readable and complete
    state = {r["id"] for r in read_table_state(spark, table).collect()}
    assert state == {0, 1, 2, 3}

    # pointer pinned at an OLD version: vacuum must exempt it
    with open(os.path.join(table, "_VERSION"), "w") as fh:
        fh.write("2")
    assert vacuum_table(table, keep_last=1) == []  # v=3 newest, v=2 live → both kept


def test_stream_anomaly_flags_match_expanding_batch_twin(spark, tmp_path):
    """Stateful Welford anomaly detector: flags agree with the batch
    expanding-window twin, including a spike arriving in a LATER micro-batch
    (the Welford state crosses the batch boundary); warm-up rows and the
    spike's self-exclusion are honored."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from etl_for_all_studies_spark.streaming.events import (
        EVENT_SCHEMA,
        read_events_stream,
        run_to_memory_sink,
        stream_anomaly_flags,
    )

    d = tmp_path / "anom_in"
    d.mkdir()
    # user 1: ten calm values in batch 1, a spike in batch 2
    calm = [(i * 60, 1, "click", 10.0 + (i % 3)) for i in range(10)]
    _write_events(d / "f1.parquet", calm)
    _write_events(
        d / "f2.parquet",
        [(700, 1, "click", 500.0), (760, 1, "click", 10.5)],
        start_id=10,
    )
    stream = read_events_stream(spark, str(d))
    run_to_memory_sink(stream_anomaly_flags(stream), "anom_stream")
    got = {
        r["event_id"]: r["z"]
        for r in spark.sql("SELECT * FROM anom_stream").collect()
    }
    assert set(got) == {10}  # only the spike; its follower is judged by a
    # distribution the spike itself inflated — and survives

    batch = spark.read.schema(EVENT_SCHEMA).parquet(str(d))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    mu = F.avg("value").over(w)
    sd = F.stddev_samp("value").over(w)
    cnt = F.count("value").over(w)
    twin = (
        batch.select(
            "event_id",
            F.when((cnt >= 5) & (sd > 0), (F.col("value") - mu) / sd).alias("z"),
        )
        .where(F.abs(F.col("z")) >= 3)
        .collect()
    )
    twin_map = {r["event_id"]: r["z"] for r in twin}
    assert set(twin_map) == set(got)
    for eid in got:
        assert got[eid] == pytest.approx(twin_map[eid], abs=1e-9)


def test_stream_apply_changelog_legacy_table_without_fingerprint(
    spark, tmp_path, caplog
):
    """ADVICE r6 migration path: versions committed before content
    fingerprinting have no _FINGERPRINT file — an id-match replay against
    such a legacy version must warn-and-skip (the pre-upgrade contract),
    not hard-error, and the very next commit must be fingerprinted so the
    strict gate takes over."""
    import json as _json
    import logging as _logging
    import os as _os
    import shutil

    from etl_for_all_studies_spark.streaming.cdc import (
        read_table_state,
        stream_apply_changelog,
    )

    src = tmp_path / "changes_legacy"
    src.mkdir()
    table = str(tmp_path / "table_legacy")
    ckpt = str(tmp_path / "ckpt_legacy")
    schema = "id long, name string, price double, op string, seq long"

    def write(fname, rows):
        (src / fname).write_text(
            "\n".join(
                _json.dumps(dict(zip(["id", "name", "price", "op", "seq"], r)))
                for r in rows
            )
        )

    def stream():
        return spark.readStream.schema(schema).json(str(src))

    write("c1.jsonl", [(1, "a", 10.0, "U", 1)])
    stream_apply_changelog(stream(), table, ckpt, keys=["id"])  # batch 0
    # simulate a pre-upgrade table: strip the digest the new code wrote
    fpr0 = _os.path.join(table, "v=0", "_FINGERPRINT")
    _os.remove(fpr0)
    shutil.rmtree(ckpt)  # crash-window replay: batch 0 redelivered, live==0

    with caplog.at_level(_logging.WARNING):
        stream_apply_changelog(stream(), table, ckpt, keys=["id"])
    assert any(
        "predates content fingerprinting" in r.message for r in caplog.records
    )
    # table untouched (skip), digest still absent on the legacy version
    assert {r["id"] for r in read_table_state(spark, table).collect()} == {1}
    assert not _os.path.exists(fpr0)

    # the next real batch commits WITH a digest → strictly guarded onwards
    write("c2.jsonl", [(2, "b", 20.0, "U", 2)])
    stream_apply_changelog(stream(), table, ckpt, keys=["id"])  # batch 1
    assert {r["id"] for r in read_table_state(spark, table).collect()} == {1, 2}
    assert _os.path.exists(_os.path.join(table, "v=1", "_FINGERPRINT"))


def _curation_shard(src_dir, name, rows):
    import json as _json

    (src_dir / name).write_text(
        "\n".join(
            _json.dumps(
                {"doc_id": i, "text": t, "lang": "en", "source": "s",
                 "n_chars": len(t)}
            )
            for i, t in rows
        )
    )


def _relaxed_rules():
    from etl_for_all_studies_spark.operators.quality import QualityRules

    return QualityRules(
        min_words=3, max_words=1000, min_mean_word_len=0.0,
        max_mean_word_len=100.0, min_type_token_ratio=0.0,
        min_stopword_ratio=0.0,
    )


_DOC1 = "the quick brown fox jumps over a lazy dog near the river bank today"
_DOC2 = "apples and oranges make a fine fruit salad with grapes and melon slices"
_TWIN = "twins share this exact text body full of repeated words exactly alike"
_D15 = (
    "sailors whisper long strange stories then apples and oranges make a "
    "fine fruit salad finally evening falls quietly over the harbor"
)


def test_stream_curate_corpus_folds_batches_against_history(spark, tmp_path):
    """Two drains of the curation stream: batch 1 must be curated AGAINST
    batch 0's admitted corpus — vs-seen exact dup dropped, new×new twins
    elect one keeper, a repeated passage is trimmed against batch 0's
    accrued window hashes, and quality failures never land."""
    from etl_for_all_studies_spark.streaming.corpus import read_corpus_stream
    from etl_for_all_studies_spark.streaming.curation import (
        read_accrued_hashes,
        read_curated_corpus,
        stream_curate_corpus,
    )

    src = tmp_path / "shards"
    src.mkdir()
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    kw = dict(rules=_relaxed_rules(), trim_spans_w=4)

    _curation_shard(src, "a.jsonl", [(1, _DOC1), (2, _DOC2), (3, "tiny")])
    stream_curate_corpus(read_corpus_stream(spark, str(src)), corpus, ckpt, **kw)
    assert sorted(
        r.doc_id for r in read_curated_corpus(spark, corpus).collect()
    ) == [1, 2]  # doc 3 failed min_words

    _curation_shard(
        src, "b.jsonl",
        [(11, _DOC1), (12, "completely novel sentence with many interesting "
                           "words about sailing boats on calm seas"),
         (13, _TWIN), (14, _TWIN), (15, _D15)],
    )
    stream_curate_corpus(read_corpus_stream(spark, str(src)), corpus, ckpt, **kw)

    kept = {r.doc_id: r.text for r in read_curated_corpus(spark, corpus).collect()}
    # 11 = exact dup of seen doc 1 -> dropped; 14 lost the twin election to
    # 13 (min-id keeper); 15 admitted but its copied passage trimmed
    assert sorted(kept) == [1, 2, 12, 13, 15]
    assert len(kept[15]) < len(_D15)
    assert "sailors whisper" in kept[15]  # the novel prefix survives

    audit = spark.read.parquet(f"{corpus}/audit").orderBy("batch_id").collect()
    assert [r.batch_id for r in audit] == [0, 1]
    assert audit[0].n_batch == 3 and audit[0].n_admitted == 2
    assert audit[1].n_batch == 5 and audit[1].n_admitted == 3
    assert audit[1].n_dropped_vs_seen == 1
    assert audit[1].n_trimmed_spans >= 1

    # cross-batch hash state: distinct, non-empty, covers both batches
    hashes = read_accrued_hashes(spark, corpus)
    assert hashes.count() == hashes.distinct().count() > 0

    # a third drain with no new shards is a no-op (checkpoint carries
    # source progress): the corpus is unchanged
    stream_curate_corpus(read_corpus_stream(spark, str(src)), corpus, ckpt, **kw)
    assert sorted(
        r.doc_id for r in read_curated_corpus(spark, corpus).collect()
    ) == [1, 2, 12, 13, 15]


def test_stream_curate_crash_replay_is_idempotent(spark, tmp_path):
    """foreachBatch side effects are at-least-once: replaying a committed
    batch id must rebuild the SAME partitions, not drop the batch as a
    duplicate of its own previous output (the self-seen hazard) and not
    double-append. Pins fold_batch's exclusion of the current batch's own
    partitions from the seen corpus."""
    from etl_for_all_studies_spark.sources.corpus import DOCUMENT_SCHEMA
    from etl_for_all_studies_spark.streaming.corpus import read_corpus_stream
    from etl_for_all_studies_spark.streaming.curation import (
        fold_batch,
        read_curated_corpus,
        stream_curate_corpus,
    )

    src = tmp_path / "shards"
    src.mkdir()
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    kw = dict(rules=_relaxed_rules(), trim_spans_w=4)

    _curation_shard(src, "a.jsonl", [(1, _DOC1), (2, _DOC2)])
    stream_curate_corpus(read_corpus_stream(spark, str(src)), corpus, ckpt, **kw)
    _curation_shard(src, "b.jsonl", [(11, _DOC1), (15, _D15)])
    stream_curate_corpus(read_corpus_stream(spark, str(src)), corpus, ckpt, **kw)

    def snapshot():
        kept = {
            (r.doc_id, r.text)
            for r in spark.read.parquet(f"{corpus}/admitted/batch_id=1").collect()
        }
        hashes = {
            r.h
            for r in spark.read.parquet(
                f"{corpus}/window_hashes/batch_id=1"
            ).collect()
        }
        return kept, hashes

    before_kept, before_hashes = snapshot()
    assert {i for i, _ in before_kept} == {15}  # 11 dropped vs seen doc 1

    # crash-window replay: re-fold the SAME batch id with the same input
    batch_df = spark.read.schema(DOCUMENT_SCHEMA).json(str(src / "b.jsonl"))
    fold_batch(batch_df, 1, corpus, **kw)

    after_kept, after_hashes = snapshot()
    assert after_kept == before_kept  # NOT emptied by self-seen dedup
    assert after_hashes == before_hashes
    assert sorted(
        r.doc_id for r in read_curated_corpus(spark, corpus).collect()
    ) == [1, 2, 15]  # and nothing double-appended
