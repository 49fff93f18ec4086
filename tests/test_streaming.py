"""Streaming onboarding tests: file-source stream -> validate -> gate ->
foreachBatch MERGE, replay dedup, fan-out routing, windowed counts."""

from __future__ import annotations

import json

import pyspark.sql.functions as F
import pytest

from automated_datastore_discovery_with_aws_glue_spark.catalog.engine import DiscoveryEngine
from automated_datastore_discovery_with_aws_glue_spark.sources.readers import load_table
from automated_datastore_discovery_with_aws_glue_spark.streaming.onboard import (
    EVENT_SCHEMA,
    onboard_stream,
    parse_events,
    route_events,
    windowed_event_counts,
)
from tests.conftest import SF_DIR


def _evt(source, name, attrs, tags):
    return {
        "source": source,
        "detail": {"eventName": name, "requestParameters": attrs},
        "tags": tags,
    }


EVENTS = [
    _evt("aws.s3", "CreateBucket", {"bucketName": "b1"}, {"gdpr-scan": "true"}),
    _evt("aws.s3", "CreateBucket", {"bucketName": "b1"}, {"gdpr-scan": "true"}),  # replay
    _evt("aws.s3", "CreateBucket", {"bucketName": "b2"}, {}),  # gate reject
    _evt("aws.s3", "DeleteBucket", {"bucketName": "b3"}, {"gdpr-scan": "true"}),  # invalid event
    _evt("aws.dynamodb", "CreateTable", {"tableName": "t1"}, {"gdpr-scan": "true", "glue-custom-entity": "true"}),
    _evt("aws.rds", "CreateDBCluster", {"dBClusterIdentifier": "c1"}, {"gdpr-scan": "true"}),
    _evt("aws.lambda", "CreateFunction", {"functionName": "f"}, {"gdpr-scan": "true"}),  # wrong source
]


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("events")
    with open(d / "batch1.json", "w") as fh:
        for e in EVENTS:
            fh.write(json.dumps(e) + "\n")
    return str(d)


def test_parse_events_validation_and_gate(spark, events_dir):
    raw = spark.read.schema(EVENT_SCHEMA).json(events_dir)
    parsed = parse_events(raw)
    rows = parsed.collect()
    # b1 (twice -> still two rows pre-merge), t1, c1; b2/b3/f filtered out
    assert len(rows) == 4
    assert {r["data_source_type"] for r in rows} == {"s3", "dynamodb", "rds"}
    assert all((not r["glue_job_created"]) and (not r["data_catalog_entry"]) for r in rows)
    # replayed event derives the SAME natural-key id
    s3_ids = [r["id"] for r in rows if r["data_source_type"] == "s3"]
    assert len(set(s3_ids)) == 1


def test_route_events_fanout(spark, events_dir):
    raw = spark.read.schema(EVENT_SCHEMA).json(events_dir)
    branches = route_events(raw)
    std = branches["standard"].collect()
    custom = branches["custom_entity"].collect()
    assert {r["data_source_type"] for r in custom} == {"dynamodb"}
    assert len(std) == 3  # b1 x2 + c1
    assert len(custom) == 1


def test_onboard_stream_merges_with_replay_dedup(spark, events_dir, tmp_path_factory):
    engine = DiscoveryEngine(
        spark, str(tmp_path_factory.mktemp("stream_state")), database="stream_db"
    )
    q = onboard_stream(
        spark, engine, events_dir, str(tmp_path_factory.mktemp("ckpt"))
    )
    assert q.awaitTermination(120), "stream did not finish in time"
    tracker = engine.tracker().collect()
    assert len(tracker) == 3  # b1 deduped, t1, c1
    assert {r["data_source_type"] for r in tracker} == {"s3", "dynamodb", "rds"}

    # re-running over the same directory with a FRESH checkpoint replays
    # every event; MERGE keeps state unchanged (idempotence)
    q2 = onboard_stream(
        spark, engine, events_dir, str(tmp_path_factory.mktemp("ckpt2"))
    )
    assert q2.awaitTermination(120), "stream did not finish in time"
    assert engine.tracker().count() == 3


def test_windowed_counts_batch_equivalence(spark):
    """The stream aggregation applied to the batch events table must match
    a plain group-by (watermark is a no-op in complete batches)."""
    ev = load_table(spark, SF_DIR, "events")
    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["avg_value"])
        for r in windowed_event_counts(ev).collect()
    }
    want = {
        (r["hb"], r["event_type"]): (r["n"], r["av"])
        for r in ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hb"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("value"), 4).alias("av"))
        .collect()
    }
    assert got == want


def test_windowed_counts_on_stream_with_late_data(spark, tmp_path_factory):
    """Drive the SAME aggregation as an actual stateful stream."""
    d = tmp_path_factory.mktemp("tsevents")
    rows = [
        {"ts": "2024-01-01T10:05:00", "event_type": "click", "value": 1.0},
        {"ts": "2024-01-01T10:55:00", "event_type": "click", "value": 3.0},
        {"ts": "2024-01-01T11:10:00", "event_type": "view", "value": 2.0},
    ]
    with open(d / "b.json", "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")
    schema = "ts timestamp, event_type string, value double"
    stream = spark.readStream.schema(schema).json(str(d))
    q = (
        windowed_event_counts(stream, window="1 hour", watermark="2 hours")
        .writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish in time"
    got = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    assert got == {
        ("2024-01-01 10:00:00", "click"): 2,
        ("2024-01-01 11:00:00", "view"): 1,
    }


# ---------------------------------------------------------------------------
# Stateful sessionization (applyInPandasWithState)
# ---------------------------------------------------------------------------

def _write_session_batch(d, rows):
    import os

    os.makedirs(d, exist_ok=True)
    path = f"{d}/batch_{len(os.listdir(d))}.json"
    with open(path, "w") as fh:
        for user_id, ts in rows:
            fh.write(json.dumps({"user_id": user_id, "ts": ts}) + "\n")


def _run_session_stream(spark, src, ckpt):
    from automated_datastore_discovery_with_aws_glue_spark.streaming.sessionize import sessionize_stream

    stream = spark.readStream.schema("user_id bigint, ts timestamp").json(src)
    out: list[tuple] = []

    def _collect(batch, _bid):
        out.extend(
            (r["user_id"], str(r["session_start"]), str(r["session_end"]), r["n_events"])
            for r in batch.collect()
        )

    q = (
        sessionize_stream(stream, gap_minutes=30, watermark_delay="0 seconds")
        .writeStream.foreachBatch(_collect)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish in time"
    return set(out)


def test_sessionize_stream_state_survives_restart(spark, tmp_path):
    """Closed sessions emit exactly once; the open session's state lives
    in the checkpoint and is continued — then closed — by a later batch
    arriving after a full stream restart. Idle sessions flush once the
    event-time watermark passes their gap horizon (EventTimeTimeout)."""
    src, ckpt = str(tmp_path / "events"), str(tmp_path / "ckpt")
    _write_session_batch(
        src,
        [
            (1, "2024-01-01 10:00:00"),
            (1, "2024-01-01 10:10:00"),
            (1, "2024-01-01 12:00:00"),  # >30min gap: closes session 1
            (2, "2024-01-01 09:00:00"),
        ],
    )
    got = _run_session_stream(spark, src, ckpt)
    # user 2's 09:00 idle session times out (watermark reaches 12:00 >
    # 09:30 horizon); user 1's 12:00 session stays open (12:30 > 12:00)
    assert got == {
        (1, "2024-01-01 10:00:00", "2024-01-01 10:10:00", 2),
        (2, "2024-01-01 09:00:00", "2024-01-01 09:00:00", 1),
    }

    # second run: user 1's checkpointed 12:00 open session continues at
    # 12:20, then the 15:00 event closes it (restart survival). user 2's
    # 11:00 event is below the checkpointed 12:00 watermark -> dropped as
    # late data (the watermark_delay budget is 0 here by construction).
    _write_session_batch(
        src,
        [
            (1, "2024-01-01 12:20:00"),
            (1, "2024-01-01 15:00:00"),
            (2, "2024-01-01 11:00:00"),
        ],
    )
    got2 = _run_session_stream(spark, src, ckpt)
    assert got2 == {
        (1, "2024-01-01 12:00:00", "2024-01-01 12:20:00", 2),
    }


def test_sessionize_stream_flushes_idle_session_on_timeout(spark, tmp_path):
    """A key's LAST session emits without any subsequent event for that
    key: another key's later event advances the watermark past the idle
    key's gap horizon and the EventTimeTimeout fires."""
    src, ckpt = str(tmp_path / "events"), str(tmp_path / "ckpt")
    _write_session_batch(
        src,
        [
            (7, "2024-01-01 10:00:00"),
            (7, "2024-01-01 10:05:00"),
            (8, "2024-01-01 13:00:00"),  # pushes watermark past 10:35
        ],
    )
    got = _run_session_stream(spark, src, ckpt)
    assert got == {(7, "2024-01-01 10:00:00", "2024-01-01 10:05:00", 2)}


def test_native_session_window_streams_under_watermark(spark, tmp_path):
    """The same session_window expression runs as a STREAMING aggregate:
    with a watermark, closed sessions emit in append mode once the
    watermark passes their end."""
    import pyspark.sql.functions as F

    src, ckpt = str(tmp_path / "events"), str(tmp_path / "ckpt")
    _write_session_batch(
        src,
        [
            (1, "2024-01-01 10:00:00"),
            (1, "2024-01-01 10:10:00"),
            (1, "2024-01-01 12:00:00"),  # own session; also advances watermark
        ],
    )
    stream = spark.readStream.schema("user_id bigint, ts timestamp").json(src)
    sessions = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias("start"),
            "n_events",
        )
    )
    out: list[tuple] = []
    q = (
        sessions.writeStream.foreachBatch(
            lambda b, _: out.extend((r["user_id"], r["start"], r["n_events"]) for r in b.collect())
        )
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish in time"
    # the 10:00 session (ends 10:40 incl. gap padding) closes once the
    # watermark reaches 12:00; the 12:00 session stays open
    assert set(out) == {(1, "2024-01-01 10:00:00", 2)}


def test_native_session_window_matches_batch_twin(spark):
    """Spark's built-in session_window splits exactly where the manual
    lag/running-sum twin does (inclusive gap boundary) on real data."""
    from automated_datastore_discovery_with_aws_glue_spark.streaming.sessionize import (
        sess_gap_split,
        sess_native_window,
    )
    from tests.conftest import SF_DIR

    manual = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in sess_gap_split(spark, SF_DIR).collect()
    }
    native = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in sess_native_window(spark, SF_DIR).collect()
    }
    assert native == manual


def test_stream_exact_dedup_first_sighting_wins(spark, tmp_path):
    """Duplicate texts across micro-batches emit once (first sighting);
    case/whitespace variants share a fingerprint; distinct texts pass.
    State is bounded by the watermark horizon (dropDuplicatesWithinWatermark)."""
    import json as _json
    import os

    from automated_datastore_discovery_with_aws_glue_spark.streaming.dedup import (
        stream_exact_dedup,
    )

    src, ckpt = str(tmp_path / "docs"), str(tmp_path / "ckpt")
    os.makedirs(src)

    def write_batch(rows):
        with open(f"{src}/b{len(os.listdir(src))}.json", "w") as fh:
            for doc_id, text, ts in rows:
                fh.write(_json.dumps({"doc_id": doc_id, "text": text, "ts": ts}) + "\n")

    write_batch(
        [
            (1, "hello world", "2024-01-01 10:00:00"),
            (2, "HELLO   world", "2024-01-01 10:00:30"),  # normalized dup of 1
            (3, "something else", "2024-01-01 10:01:00"),
        ]
    )
    stream = spark.readStream.schema("doc_id bigint, text string, ts timestamp").json(src)
    out: list[int] = []
    q = (
        stream_exact_dedup(stream)
        .writeStream.foreachBatch(lambda b, _: out.extend(r["doc_id"] for r in b.collect()))
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish in time"
    assert sorted(out) == [1, 3]

    # second run: replay-adjacent dup within the horizon still suppressed
    write_batch([(4, "hello world", "2024-01-01 10:02:00"), (5, "brand new", "2024-01-01 10:02:30")])
    q = (
        stream_exact_dedup(stream)
        .writeStream.foreachBatch(lambda b, _: out.extend(r["doc_id"] for r in b.collect()))
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish in time"
    assert sorted(out) == [1, 3, 5]


def test_sessionize_batch_matches_stream_semantics(spark):
    """The batch twin reproduces the stream's gap-splitting on a closed
    fixture (every session followed by a later event or end-of-data)."""
    from automated_datastore_discovery_with_aws_glue_spark.streaming.sessionize import sessionize_batch

    rows = [
        (1, "2024-01-01 10:00:00", 1),
        (1, "2024-01-01 10:10:00", 2),
        (1, "2024-01-01 12:00:00", 3),
        (2, "2024-01-01 09:00:00", 4),
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts string, event_id bigint").withColumn(
        "ts", F.to_timestamp("ts")
    )
    got = [tuple(r) for r in sessionize_batch(df, gap_minutes=30).collect()]
    assert got == [
        (1, 1, "2024-01-01 10:00:00", "2024-01-01 10:10:00", 2),
        (1, 2, "2024-01-01 12:00:00", "2024-01-01 12:00:00", 1),
        (2, 1, "2024-01-01 09:00:00", "2024-01-01 09:00:00", 1),
    ]


def test_stream_segment_dedup_c4_cleaning(spark, tmp_path):
    """Ingest-time paragraph dedup: a segment seen in an earlier
    micro-batch is dropped from later documents (bounded watermark
    state); a document whose every segment is boilerplate still emits —
    empty — via its sentinel row, matching the batch operator."""
    import json as _json
    import os

    from automated_datastore_discovery_with_aws_glue_spark.streaming.dedup import (
        reassemble_segments,
        stream_segment_dedup,
    )

    src, ckpt = str(tmp_path / "docs"), str(tmp_path / "ckpt")
    os.makedirs(src)

    def write_batch(rows):
        with open(f"{src}/b{len(os.listdir(src))}.json", "w") as fh:
            for doc_id, text, ts in rows:
                fh.write(_json.dumps({"doc_id": doc_id, "text": text, "ts": ts}) + "\n")

    out: dict[int, tuple] = {}
    seg_rows: list[tuple] = []

    def sink(batch, _):
        for r in reassemble_segments(batch).collect():
            out[r["doc_id"]] = (r["text"], r["n_kept"], r["n_dropped"])
            seg_rows.append((r["doc_id"], r["text"], r["n_kept"], r["n_dropped"]))

    def run():
        stream = spark.readStream.schema("doc_id bigint, text string, ts timestamp").json(src)
        q = (
            stream_segment_dedup(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "stream did not finish in time"

    write_batch([(1, "alpha beta\n\ncommon footer", "2024-01-01 10:00:00")])
    run()
    assert out[1] == ("alpha beta\n\ncommon footer", 2, 0)

    # later batch: duplicate segment dropped cross-batch; fresh one kept;
    # an all-boilerplate doc still emits, empty
    write_batch(
        [
            (2, "gamma delta\n\ncommon footer", "2024-01-01 10:01:00"),
            (3, "common footer", "2024-01-01 10:01:30"),
        ]
    )
    run()
    assert out[2] == ("gamma delta", 1, 1)
    assert out[3] == ("", 0, 1)

    # NULL-text document: split(NULL) must not eliminate the row — the
    # sentinel still emits an (empty, 0, 0) output row
    write_batch([(4, None, "2024-01-01 10:02:00")])
    run()
    assert out[4] == ("", 0, 0)

    # two versions of one doc_id (different ts) in ONE batch: grouped by
    # (doc_id, ts) they reassemble separately — no interleaved text, no
    # negative n_dropped (regression: groupBy(doc_id) merged them)
    write_batch(
        [
            (5, "first version body\n\nshared trailer", "2024-01-01 10:03:00"),
            (5, "second version body\n\nshared trailer", "2024-01-01 10:03:30"),
        ]
    )
    run()
    v5 = sorted((t, k, d) for doc, t, k, d in seg_rows if doc == 5)
    assert v5 == [
        ("first version body\n\nshared trailer", 2, 0),
        ("second version body", 1, 1),
    ], v5

    # a CORRECTION reusing its predecessor's (doc_id, ts) whose segments
    # are all already-seen must still emit (empty) — the sentinel is
    # keyed on content too, so only bit-for-bit replays vanish
    write_batch([(6, "fresh six body", "2024-01-01 10:04:00")])
    run()
    assert out[6] == ("fresh six body", 1, 0)
    write_batch([(6, "common footer", "2024-01-01 10:04:00")])  # same id+ts, new text
    run()
    assert out[6] == ("", 0, 1)
    # ...while a true exact replay of THAT correction emits nothing
    n_before = len(seg_rows)
    write_batch([(6, "common footer", "2024-01-01 10:04:00")])
    run()
    assert len(seg_rows) == n_before


def test_stream_minhash_neardup_detection(spark, tmp_path):
    """Streaming NEAR-dup (MinHash-LSH) ingest gate: a lightly-reworded
    cross-batch duplicate is flagged (any shared band — the batch LSH
    candidate rule), an unrelated doc passes clean, an exact replay
    vanishes entirely; state is watermark-bounded and the verdicts
    survive query restarts (each batch runs a fresh availableNow query
    off the shared checkpoint)."""
    import json as _json
    import os

    from automated_datastore_discovery_with_aws_glue_spark.streaming.dedup import (
        finalize_minhash_dedup,
        stream_minhash_dedup,
    )

    src, ckpt = str(tmp_path / "docs"), str(tmp_path / "ckpt")
    os.makedirs(src)

    def write_batch(rows):
        with open(f"{src}/b{len(os.listdir(src))}.json", "w") as fh:
            for doc_id, text, ts in rows:
                fh.write(_json.dumps({"doc_id": doc_id, "text": text, "ts": ts}) + "\n")

    out: dict[int, tuple] = {}
    all_rows: list[tuple] = []

    def sink(batch, _):
        for r in finalize_minhash_dedup(batch).collect():
            out[r["doc_id"]] = (r["n_bands"], r["n_bands_new"], r["is_near_dup_candidate"])
            all_rows.append(
                (r["doc_id"], r["n_bands_new"], r["is_near_dup_candidate"])
            )

    def run():
        stream = spark.readStream.schema("doc_id bigint, text string, ts timestamp").json(src)
        q = (
            stream_minhash_dedup(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "stream did not finish in time"

    base = (
        "the quick brown fox jumps over the lazy dog while the calm river "
        "flows past the old stone bridge near the quiet village every morning"
    )
    write_batch([(1, base, "2024-01-01 10:00:00")])
    run()
    assert out[1] == (16, 16, False)  # unique: every band fresh

    paraphrase = base.replace("quick", "fast").replace("morning", "evening")
    write_batch(
        [
            (2, paraphrase, "2024-01-01 10:01:00"),
            (3, "completely different content about spark shuffle partitions and adaptive execution plans", "2024-01-01 10:01:30"),
        ]
    )
    run()  # fresh query off the checkpoint -> cross-batch state survived restart
    assert out[2][2] is True and out[2][1] < 16  # reworded dup flagged
    assert out[3] == (16, 16, False)  # unrelated doc unaffected

    # exact replay (same id/ts/text): every row incl. the sentinel dedups
    out.clear()
    write_batch([(1, base, "2024-01-01 10:00:00")])
    run()
    assert 1 not in out

    # same key but CORRECTED (near-dup) text: the content-keyed sentinel
    # is fresh, so the message surfaces with a verdict instead of being
    # silently swallowed by its predecessor's band claims
    write_batch([(1, base.replace("village", "hamlet"), "2024-01-01 10:00:00")])
    run()
    assert 1 in out and out[1][2] is True

    # SAME-batch correction: v1 and a near-dup v2 share (id, ts) inside
    # one micro-batch — fp-keyed grouping yields two verdicts, the
    # correction flagged rather than folded into v1's clean verdict
    v1 = "a fresh passage about streaming joins checkpoint recovery and state stores under load"
    write_batch(
        [
            (9, v1, "2024-01-01 10:03:00"),
            (9, v1.replace("fresh", "new"), "2024-01-01 10:03:00"),
        ]
    )
    run()
    rows9 = [(n, f) for d, n, f in all_rows if d == 9]
    assert sorted(f for _n, f in rows9) == [False, True], rows9


def test_session_state_machine_late_event_widens_bounds():
    """Cross-batch out-of-order events (within the watermark budget) must
    only WIDEN the open session — a late arrival regressing `last` would
    shrink session_end and pull the idle-flush horizon early — and a late
    event more than gap before the open session emits as its own
    session. Drives the applyInPandasWithState kernel directly."""
    import pandas as pd

    from automated_datastore_discovery_with_aws_glue_spark.streaming.sessionize import (
        _make_session_fn,
    )

    class FakeState:
        def __init__(self):
            self._v, self.exists, self.hasTimedOut = None, False, False
            self.timeout = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v, self.exists = v, True

        def setTimeoutTimestamp(self, ts):
            self.timeout = ts

        def remove(self):
            self._v, self.exists = None, False

    gap_us = 30 * 60_000_000
    fn = _make_session_fn(gap_us)
    state = FakeState()

    def run_batch(ts_list):
        pdf = pd.DataFrame({"ts": pd.to_datetime(ts_list)})
        return list(fn((1,), iter([pdf]), state))

    # batch 1: one event at 12:00
    assert run_batch(["2024-01-01 12:00:00"]) == []
    assert state.get == (1704110400000000, 1704110400000000, 1)

    # batch 2: late event 11:55 (within session) — bounds widen, last
    # does NOT regress; the idle-flush horizon stays at 12:00 + gap
    assert run_batch(["2024-01-01 11:55:00"]) == []
    start, last, n = state.get
    assert (start, last, n) == (1704110100000000, 1704110400000000, 2)
    assert state.timeout == (1704110400000000 + gap_us) // 1000

    # batch 3: 12:26 — 26 min after the TRUE session end (12:00), within
    # gap: same session (the pre-fix regression to 11:55 would split it)
    assert run_batch(["2024-01-01 12:26:00"]) == []
    assert state.get[2] == 3

    # batch 4: a very late straggler more than gap before the open
    # session emits as its own closed single-event session
    out = run_batch(["2024-01-01 09:00:00"])
    assert len(out) == 1 and out[0]["n_events"].tolist() == [1]
    assert state.get[2] == 3  # open session untouched

    # batch 5: TWO before-session stragglers within gap of each other
    # merge into ONE 2-event pending session (batch-twin parity; the
    # pre-fix kernel emitted two singletons)
    out = run_batch(["2024-01-01 09:00:00", "2024-01-01 09:05:00"])
    assert len(out) == 1
    assert out[0]["n_events"].tolist() == [2]
    assert out[0]["session_start"].tolist() == [pd.Timestamp("2024-01-01 09:00:00")]
    assert out[0]["session_end"].tolist() == [pd.Timestamp("2024-01-01 09:05:00")]
    assert state.get[2] == 3

    # batch 6: stragglers that BRIDGE to the open session get absorbed:
    # 11:00 starts pending (> gap before the open start 11:55); 11:30 is
    # in-session (>= 11:25) and widens start to 11:30, which is within
    # gap of the pending's last (11:00) -> the pending merges in instead
    # of closing as an early singleton
    out = run_batch(["2024-01-01 11:00:00", "2024-01-01 11:30:00"])
    assert out == []
    start, last, n = state.get
    assert start == 1704106800000000  # 11:00
    assert n == 5


def test_stream_minhash_verified_sink_precision(spark, tmp_path):
    """The composed precision hand-off (VERDICT r5 item 5): candidates
    flagged by the streaming LSH gate route through a bounded batch
    exact-Jaccard verify — a TRUE near-dup is dropped, a band-collision
    FALSE POSITIVE survives, and the horizon store prunes itself (state
    bounded by event time)."""
    import json as _json
    import os
    import random

    import pyspark.sql.functions as F

    from automated_datastore_discovery_with_aws_glue_spark.operators.dedup import _signature_expr
    from automated_datastore_discovery_with_aws_glue_spark.operators.hashing import hashed_shingles
    from automated_datastore_discovery_with_aws_glue_spark.streaming.dedup import (
        make_verified_minhash_sink,
        stream_minhash_dedup,
    )

    NUM_HASHES, BANDS, N = 8, 8, 3  # rows-per-band=1: engineerable collisions

    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliett "
        "kilo lima mike november oscar papa"
    )

    # deterministically craft a FALSE POSITIVE: a word soup sharing >=1
    # of base's 8 band buckets but with low true Jaccard (xxhash64 is
    # fixed, so the search result is stable for a fixed seed)
    rng = random.Random(13)
    words = [f"w{i:02d}" for i in range(40)]
    base_words = base.split()

    def variant():
        # a 5-word consecutive chunk of base -> 3 shared 3-shingles
        # (J ~ 0.12: enough for ~64% single-band collision odds at
        # rows-per-band=1, far below the 0.5 verify threshold)
        i = rng.randint(0, len(base_words) - 5)
        chunk = base_words[i : i + 5]
        filler = [rng.choice(words) for _ in range(11)]
        cut = rng.randint(0, len(filler))
        return " ".join(filler[:cut] + chunk + filler[cut:])

    variants = [variant() for _ in range(400)]
    probe = spark.createDataFrame([(t,) for t in [base] + variants], ["text"])
    sig = _signature_expr(hashed_shingles(F.col("text"), N), NUM_HASHES)
    buckets = F.array(
        *[F.xxhash64(F.slice(sig, b + 1, 1)) for b in range(BANDS)]
    )
    rows = probe.select(
        "text",
        buckets.alias("bk"),
        F.array_distinct(hashed_shingles(F.col("text"), N)).alias("sh"),
    ).collect()
    base_bk, base_sh = set(rows[0]["bk"]), set(rows[0]["sh"])

    def jac(sh):
        s = set(sh)
        return len(s & base_sh) / len(s | base_sh)

    false_pos = next(
        r["text"]
        for r in rows[1:]
        if set(r["bk"]) & base_bk and jac(r["sh"]) < 0.3
    )

    src, ckpt = str(tmp_path / "docs"), str(tmp_path / "ckpt")
    horizon_dir, out_dir = str(tmp_path / "horizon"), str(tmp_path / "out")
    os.makedirs(src)

    def write_batch(rows_):
        with open(f"{src}/b{len(os.listdir(src))}.json", "w") as fh:
            for doc_id, text, ts in rows_:
                fh.write(_json.dumps({"doc_id": doc_id, "text": text, "ts": ts}) + "\n")

    sink = make_verified_minhash_sink(
        horizon_dir, out_dir, n=N, jaccard_threshold=0.5
    )

    def run():
        stream = spark.readStream.schema("doc_id bigint, text string, ts timestamp").json(src)
        q = (
            stream_minhash_dedup(
                stream, n=N, num_hashes=NUM_HASHES, bands=BANDS, carry_payload=True
            )
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "stream did not finish in time"

    write_batch([(1, base, "2024-01-01 10:00:00")])
    run()

    near_dup = base.replace("alpha", "zulu")  # true near-dup (J ~ 0.8)
    write_batch(
        [
            (2, near_dup, "2024-01-01 10:01:00"),
            (3, false_pos, "2024-01-01 10:01:30"),
        ]
    )
    run()

    got = {
        r["doc_id"]: (r["is_near_dup_candidate"], r["verified_dup"], r["kept"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got[1] == (False, False, True)  # clean first sighting
    assert got[2] == (True, True, False)  # flagged AND verified -> dropped
    assert got[3][0] is True  # band collision flagged it...
    assert got[3] == (True, False, True)  # ...but the verify saved it

    # horizon store bounded: the store is a versioned state table
    # partitioned by event-time bucket; a batch far past the horizon
    # drops the expired buckets (replacement-by-nothing via the CAS)
    from automated_datastore_discovery_with_aws_glue_spark.state.store import ParquetStateStore

    hstore = ParquetStateStore(spark, horizon_dir)
    docs_before = {r["doc_id"] for r in hstore.read("horizon").select("doc_id").distinct().collect()}
    assert docs_before == {1, 3}  # doc1 clean, doc3 survived the verify
    write_batch([(4, "totally new content far in the future by the pier", "2024-01-01 10:30:00")])
    run()
    docs_after = {r["doc_id"] for r in hstore.read("horizon").select("doc_id").distinct().collect()}
    # only the newest doc's rows survive (docs 1/3 fell behind the
    # 10-minute horizon)
    assert docs_after == {4}, docs_after
    got = {
        r["doc_id"]: r["kept"] for r in spark.read.parquet(out_dir).collect()
    }
    assert got[4] is True


def test_text_operators_run_on_streams_stateless(spark, tmp_path):
    """The text-analysis surface (quality stats, learned-style classifier
    score, language ID) is pure projection — it runs UNCHANGED on a
    readStream with no state, no watermark, and produces exactly the
    batch results. This is the ingest-time shape: score documents as
    they land, before any stateful dedup."""
    import json as _json
    import os

    import pyspark.sql.functions as F

    from automated_datastore_discovery_with_aws_glue_spark.operators.text import (
        classifier_score,
        lang_id,
        text_stats,
    )

    src = str(tmp_path / "docs")
    os.makedirs(src)
    rows = [
        (1, "the quick brown fox jumps over the lazy dog and runs away"),
        (2, "el rapido zorro marron salta sobre el perro perezoso hoy"),
        (3, "x" * 40),
    ]
    with open(f"{src}/b0.json", "w") as fh:
        for doc_id, text in rows:
            fh.write(_json.dumps({"doc_id": doc_id, "text": text}) + "\n")

    def project(df):
        return text_stats(df).select(
            "doc_id",
            "quality_score",
            classifier_score(F.col("text")).alias("cls"),
            lang_id(F.col("text")).alias("lang"),
        )

    stream = spark.readStream.schema("doc_id bigint, text string").json(src)
    q = (
        project(stream)
        .writeStream.format("memory")
        .queryName("txt_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish in time"
    got = {
        r["doc_id"]: (r["quality_score"], r["cls"], r["lang"])
        for r in spark.sql("SELECT * FROM txt_stream").collect()
    }
    batch = spark.createDataFrame(rows, ["doc_id", "text"])
    want = {
        r["doc_id"]: (r["quality_score"], r["cls"], r["lang"])
        for r in project(batch).collect()
    }
    assert got == want
    assert got[1][2] == "en" and got[2][2] == "es"


def test_streaming_incremental_classification(spark, tmp_path):
    """Ingest-time PII monitoring: per-batch match COUNTS append to a
    state table; the derived classification at every point equals a
    one-shot batch classify of everything ingested so far — a column's
    detection FLIPS when enough matching rows have arrived, with no
    re-scan of history. Compaction preserves the derivation."""
    import json as _json
    import os

    from automated_datastore_discovery_with_aws_glue_spark.operators.classify import classify_columns
    from automated_datastore_discovery_with_aws_glue_spark.state.store import ParquetStateStore
    from automated_datastore_discovery_with_aws_glue_spark.streaming.classify import (
        compact_counts,
        current_classification,
        make_classify_sink,
    )

    src, ckpt = str(tmp_path / "rows"), str(tmp_path / "ckpt")
    os.makedirs(src)
    store = ParquetStateStore(spark, str(tmp_path / "state"))
    cols = ["contact", "note"]
    ent = ["EMAIL"]
    sink = make_classify_sink(store, "live_counts", ent, columns=cols)

    seen: list[tuple] = []

    def write_batch(rows):
        seen.extend(rows)
        with open(f"{src}/b{len(os.listdir(src))}.json", "w") as fh:
            for contact, note in rows:
                fh.write(_json.dumps({"contact": contact, "note": note}) + "\n")

    def run():
        stream = spark.readStream.schema("contact string, note string").json(src)
        q = (
            stream.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "stream did not finish in time"

    def live():
        return {
            r["columnName"]: list(r["entityTypes"])
            for r in current_classification(
                store, "live_counts", ent, 0.5, column_names=cols
            ).collect()
        }

    def batch_truth():
        df = spark.createDataFrame(seen, f"{cols[0]} string, {cols[1]} string")
        return {
            r["columnName"]: list(r["entityTypes"])
            for r in classify_columns(df, ent, 1.0, 0.5).collect()
        }

    # batch 1: 2 of 6 contacts are emails (33% < 50%) -> no detection
    write_batch([(f"u{i}@ex.com" if i < 2 else f"plain {i}", f"n{i}") for i in range(6)])
    run()
    assert live() == batch_truth() == {}

    # batch 2: 6 more, all emails -> cumulative 8/12 (67%) -> flips ON
    write_batch([(f"v{i}@ex.com", f"n{i}") for i in range(6)])
    run()
    assert live() == batch_truth() == {"contact": ["EMAIL"]}

    # compaction: one row per (column, entity); derivation unchanged
    n_before = store.read("live_counts").count()
    compact_counts(store, "live_counts")
    assert store.read("live_counts").count() < n_before
    assert live() == {"contact": ["EMAIL"]}

    # further batches keep accumulating on the compacted table
    write_batch([(f"plain tail {i}", f"n{i}") for i in range(2)])
    run()
    assert live() == batch_truth() == {"contact": ["EMAIL"]}


def test_classify_sink_replayed_batch_applies_once(spark, tmp_path):
    """foreachBatch is at-least-once: a micro-batch replayed after a
    failure (same batch_id) must NOT double its counts — the summed
    classification stays exactly equal to a one-shot batch classify of
    what was actually ingested. Compaction preserves the replay guard."""
    from automated_datastore_discovery_with_aws_glue_spark.state.store import ParquetStateStore
    from automated_datastore_discovery_with_aws_glue_spark.streaming.classify import (
        compact_counts,
        current_classification,
        make_classify_sink,
    )

    store = ParquetStateStore(spark, str(tmp_path / "state"))
    cols = ["contact"]
    sink = make_classify_sink(store, "cnt", ["EMAIL"], columns=cols)

    # 2 emails / 4 rows = 50%: doubling the email batch would flip a
    # 0.6-threshold detection that the true corpus does not clear
    b0 = spark.createDataFrame([(f"u{i}@ex.com",) for i in range(2)], cols)
    b1 = spark.createDataFrame([("plain a",), ("plain b",)], cols)
    sink(b0, 0)
    sink(b1, 1)
    truth = store.read("cnt").groupBy().sum("n_matched", "n_values").collect()[0]

    sink(b0, 0)  # replay after a simulated post-commit crash
    sink(b1, 1)
    again = store.read("cnt").groupBy().sum("n_matched", "n_values").collect()[0]
    assert tuple(truth) == tuple(again) == (2, 4)

    got = {
        r["columnName"]: list(r["entityTypes"])
        for r in current_classification(store, "cnt", ["EMAIL"], 0.6, column_names=cols).collect()
    }
    assert got == {}  # 50% < 60%; a double-count would wrongly flip it

    compact_counts(store, "cnt")
    sink(b1, 1)  # replay AFTER compaction still skips
    final = store.read("cnt").groupBy().sum("n_matched", "n_values").collect()[0]
    assert tuple(final) == (2, 4)

    # a genuinely new batch still lands
    sink(spark.createDataFrame([("w@x.io",)], cols), 2)
    assert tuple(store.read("cnt").groupBy().sum("n_matched", "n_values").collect()[0]) == (3, 5)


def test_verified_sink_two_writers_cas_interleave(spark, tmp_path, monkeypatch):
    """Two concurrent verified-minhash sinks share one horizon store:
    when writer B's commit lands in the middle of writer A's append,
    A's CAS loses, and A must RETRY against the fresh snapshot instead
    of clobbering B's rows (or crashing). Both writers' docs end up in
    the horizon table and both verdicts in out_dir."""
    from datetime import datetime

    from automated_datastore_discovery_with_aws_glue_spark.state import store as store_mod
    from automated_datastore_discovery_with_aws_glue_spark.streaming.dedup import (
        make_verified_minhash_sink,
    )

    schema = (
        "doc_id bigint, ts timestamp, fp bigint, n_bands int, band int, "
        "bucket bigint, text string, buckets array<struct<band:int,bucket:bigint>>"
    )

    def mk_batch(doc_id, fp, bucket_base, text):
        ts = datetime(2024, 1, 1, 10, 0, 0)
        buckets = [(0, bucket_base), (1, bucket_base + 1)]
        rows = [
            (doc_id, ts, fp, 2, -1, fp, text, buckets),  # sentinel carries payload
            (doc_id, ts, fp, 2, 0, bucket_base, None, None),
            (doc_id, ts, fp, 2, 1, bucket_base + 1, None, None),
        ]
        return spark.createDataFrame(rows, schema)

    horizon_dir = str(tmp_path / "horizon")
    sink_a = make_verified_minhash_sink(horizon_dir, str(tmp_path / "out_a"))
    sink_b = make_verified_minhash_sink(horizon_dir, str(tmp_path / "out_b"))
    batch_a = mk_batch(1, 111, 1000, "alpha bravo charlie delta echo")
    batch_b = mk_batch(2, 222, 2000, "zulu yankee xray whiskey victor")

    orig = store_mod.ParquetStateStore._commit_staged
    state = {"raced": False}

    def racing(self, table, staging, *, expect):
        if table == "horizon" and not state["raced"]:
            state["raced"] = True
            sink_b(batch_b, 0)  # writer B lands first, mid-flight of A
        return orig(self, table, staging, expect=expect)

    monkeypatch.setattr(store_mod.ParquetStateStore, "_commit_staged", racing)
    sink_a(batch_a, 0)  # loses the CAS once, retries, succeeds
    monkeypatch.setattr(store_mod.ParquetStateStore, "_commit_staged", orig)

    assert state["raced"]
    hstore = store_mod.ParquetStateStore(spark, horizon_dir)
    docs = {r["doc_id"] for r in hstore.read("horizon").select("doc_id").distinct().collect()}
    assert docs == {1, 2}  # neither writer's rows were lost
    kept_a = {r["doc_id"]: r["kept"] for r in spark.read.parquet(str(tmp_path / "out_a")).collect()}
    kept_b = {r["doc_id"]: r["kept"] for r in spark.read.parquet(str(tmp_path / "out_b")).collect()}
    assert kept_a == {1: True} and kept_b == {2: True}


def test_cms_sink_streaming_frequencies_with_replay_guard(spark, tmp_path):
    """Streaming count-min monitoring: per-batch sketches merge into a
    bounded state table whose point queries equal (>=, one-sided) the
    true arrival counts and exactly equal a one-shot batch sketch of
    everything ingested; a replayed micro-batch merges nothing."""
    import pyspark.sql.functions as F

    from automated_datastore_discovery_with_aws_glue_spark.operators.hashing import MD5
    from automated_datastore_discovery_with_aws_glue_spark.operators.sketch import cms_build, cms_query
    from automated_datastore_discovery_with_aws_glue_spark.state.store import ParquetStateStore
    from automated_datastore_discovery_with_aws_glue_spark.streaming.classify import make_cms_sink

    store = ParquetStateStore(spark, str(tmp_path / "state"))
    kw = dict(depth=4, width=64, hash_fn=MD5)
    sink = make_cms_sink(store, "freq", "v", **kw)

    b0 = spark.createDataFrame([("a",)] * 30 + [("b",)] * 5, ["v"])
    b1 = spark.createDataFrame([("a",)] * 10 + [("c",)] * 7, ["v"])
    sink(b0, 0)
    sink(b1, 1)
    sink(b1, 1)  # replay: must merge nothing

    stored = store.read("freq").select("row", "bucket", "cnt")
    whole = cms_build(
        spark.createDataFrame([("a",)] * 40 + [("b",)] * 5 + [("c",)] * 7, ["v"]), "v", **kw
    )
    assert {tuple(r) for r in stored.collect()} == {tuple(r) for r in whole.collect()}

    vals = spark.createDataFrame([("a",), ("b",), ("c",)], ["v"])
    est = {r["v"]: r["est_n"] for r in cms_query(stored, vals, **kw).collect()}
    assert est["a"] >= 40 and est["b"] >= 5 and est["c"] >= 7


def test_streaming_distinct_hll_monitor(spark, tmp_path):
    """Ingest-time distinct-user monitoring: per-batch HLL sketches
    append to a state table (real writeStream); the up-to-now estimate
    ALWAYS equals sketching everything ingested so far in one pass
    (merge == whole), replayed batch_ids apply once, and compaction
    preserves both the estimate and the replay guard."""
    import json as _json
    import os

    import pyspark.sql.functions as F

    from automated_datastore_discovery_with_aws_glue_spark.state.store import ParquetStateStore
    from automated_datastore_discovery_with_aws_glue_spark.streaming.classify import (
        compact_distinct,
        current_distinct,
        make_distinct_sink,
    )

    src, ckpt = str(tmp_path / "rows"), str(tmp_path / "ckpt")
    os.makedirs(src)
    store = ParquetStateStore(spark, str(tmp_path / "state"))
    sink = make_distinct_sink(store, "live_nd", ["event_type"], "user")

    seen: list[tuple] = []

    def write_batch(rows):
        seen.extend(rows)
        with open(f"{src}/b{len(os.listdir(src))}.json", "w") as fh:
            for et, u in rows:
                fh.write(_json.dumps({"event_type": et, "user": u}) + "\n")

    def run():
        stream = spark.readStream.schema("event_type string, user string").json(src)
        q = (
            stream.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "stream did not finish in time"

    def live():
        return {
            r["event_type"]: r["approx_nd"]
            for r in current_distinct(store, "live_nd", ["event_type"]).collect()
        }

    def whole_truth():
        df = spark.createDataFrame(seen, "event_type string, user string")
        return {
            r["event_type"]: r["n"]
            for r in df.groupBy("event_type")
            .agg(
                F.hll_sketch_estimate(
                    F.hll_sketch_agg("user", F.lit(12))
                ).alias("n")
            )
            .collect()
        }

    write_batch([("view", f"u{i}") for i in range(40)] + [("buy", "u0")])
    run()
    assert live() == whole_truth()
    # overlapping users in a later batch must not double-count
    write_batch([("view", f"u{i}") for i in range(20, 60)] + [("buy", "u1")])
    run()
    est = live()
    assert est == whole_truth()
    assert est["buy"] == 2

    # replayed batch_id applies once (at-least-once delivery)
    b = spark.createDataFrame([("view", "u9999")], "event_type string, user string")
    sink(b, 0)  # stale id: skipped
    assert live() == whole_truth()

    # compaction: one row per key, estimate unchanged, replay still skips
    n_before = store.read("live_nd").count()
    compact_distinct(store, "live_nd")
    assert store.read("live_nd").count() < n_before
    assert live() == whole_truth()
    sink(b, 0)
    assert live() == whole_truth()


def test_compaction_cas_preserves_racing_micro_batch(spark, tmp_path):
    """A micro-batch that appends BETWEEN the compaction's snapshot read
    and its overwrite commit must never be dropped: the pinned-snapshot
    CAS loses the commit race, re-derives from the fresh snapshot, and
    the racing batch's counts (and the replay guard) survive."""
    from automated_datastore_discovery_with_aws_glue_spark.state.store import ParquetStateStore
    from automated_datastore_discovery_with_aws_glue_spark.streaming.classify import (
        _compact_cas,
        _summed_counts,
        make_classify_sink,
    )

    store = ParquetStateStore(spark, str(tmp_path / "state"))
    cols = ["contact"]
    sink = make_classify_sink(store, "cnt", ["EMAIL"], columns=cols)
    sink(spark.createDataFrame([(f"u{i}@ex.com",) for i in range(2)], cols), 0)

    raced = {"fired": False, "derives": 0}
    b1 = spark.createDataFrame([("plain a",), ("plain b",)], cols)

    def derive(snap):
        raced["derives"] += 1
        if not raced["fired"]:
            raced["fired"] = True
            sink(b1, 1)  # the racing micro-batch lands mid-compaction
        return _summed_counts(snap)

    _compact_cas(store, "cnt", derive, max_retries=5)
    assert raced["derives"] == 2  # lost the first commit, re-derived

    total = store.read("cnt").groupBy().sum("n_matched", "n_values").collect()[0]
    assert tuple(total) == (2, 4)  # b1's 2 non-matching values survived
    sink(b1, 1)  # replay after compaction still skips
    again = store.read("cnt").groupBy().sum("n_matched", "n_values").collect()[0]
    assert tuple(again) == (2, 4)


def test_stream_stream_interval_enrich_late_data_and_restart(spark, tmp_path):
    """REAL two-stream writeStream run of stream_interval_join
    (`streaming/enrich.py`): two file streams join on user_id with a
    5-minute lookback; the first run's output equals the batch twin of
    the same data (same builder, batch frames), and after a checkpoint
    RESTART a pair arriving below the checkpointed watermark is
    dropped (bounded state) while a fresh pair still lands."""
    import json as _json
    import os

    from automated_datastore_discovery_with_aws_glue_spark.streaming.enrich import stream_interval_join

    lsrc, rsrc = str(tmp_path / "left"), str(tmp_path / "right")
    ckpt, outdir = str(tmp_path / "ckpt"), str(tmp_path / "out")
    os.makedirs(lsrc)
    os.makedirs(rsrc)
    L_SCHEMA = "user_id long, ts timestamp, amount double"
    R_SCHEMA = "user_id long, ts timestamp, rate double"

    def put(src, rows):
        with open(f"{src}/b{len(os.listdir(src))}.json", "w") as fh:
            for u, ts, v in rows:
                key = "amount" if src == lsrc else "rate"
                fh.write(_json.dumps({"user_id": u, "ts": ts, key: v}) + "\n")

    def run():
        lt = spark.readStream.schema(L_SCHEMA).json(lsrc)
        rt = spark.readStream.schema(R_SCHEMA).json(rsrc)
        j = stream_interval_join(
            lt, rt, "user_id", lookback_sec=300,
            left_watermark="10 minutes", right_watermark="10 minutes",
        )
        q = (
            j.writeStream.format("parquet")
            .outputMode("append")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180), "stream did not finish in time"

    def got():
        return {
            (r["user_id"], str(r["ts"]), str(r["ts_r"]), r["rate"])
            for r in spark.read.schema(
                "user_id long, ts timestamp, amount double, ts_r timestamp, rate double"
            ).parquet(outdir).collect()
        }

    # run 1: u1's 10:00 purchase matches the 09:57 rate (3 min back);
    # u1's 10:06 matches 10:05 but NOT 09:57 (9 min back); u2's only
    # rate is 6 min back -> inner-join absent
    left1 = [
        (1, "2024-01-01 10:00:00", 5.0),
        (1, "2024-01-01 10:06:00", 7.0),
        (2, "2024-01-01 10:00:00", 9.0),
    ]
    right1 = [
        (1, "2024-01-01 09:57:00", 1.1),
        (1, "2024-01-01 10:05:00", 2.2),
        (2, "2024-01-01 09:54:00", 3.3),
    ]
    put(lsrc, left1)
    put(rsrc, right1)
    run()

    def batch_twin(lrows, rrows):
        lb = spark.createDataFrame(
            [(u, _dt(ts), v) for u, ts, v in lrows], L_SCHEMA
        )
        rb = spark.createDataFrame(
            [(u, _dt(ts), v) for u, ts, v in rrows], R_SCHEMA
        )
        return {
            (r["user_id"], str(r["ts"]), str(r["ts_r"]), r["rate"])
            for r in stream_interval_join(
                lb, rb, "user_id", lookback_sec=300
            ).select("user_id", "ts", "ts_r", "rate").collect()
        }

    from datetime import datetime as _dtmod

    def _dt(s):
        return _dtmod.fromisoformat(s)

    expect1 = batch_twin(left1, right1)
    assert got() == expect1 and len(expect1) == 2

    # run 2 (restart from checkpoint): global watermark is ~09:56
    # (10:06 - 10 min). A pair entirely below it must be dropped;
    # a fresh pair lands.
    put(lsrc, [(9, "2024-01-01 09:40:00", 1.0), (1, "2024-01-01 10:10:00", 8.0)])
    put(rsrc, [(9, "2024-01-01 09:39:30", 4.4), (1, "2024-01-01 10:08:00", 5.5)])
    run()
    out2 = got()
    assert (1, "2024-01-01 10:10:00", "2024-01-01 10:08:00", 5.5) in out2
    assert not any(u == 9 for (u, *_rest) in out2), "late pair must be dropped"
    # the cross-RUN pair (10:10 purchase x 10:05 rate, exactly 300s
    # back, right row still in join state) must also land — state
    # survives the restart. Final output = the batch twin over every
    # retained (non-late) row.
    retained_l = left1 + [(1, "2024-01-01 10:10:00", 8.0)]
    retained_r = right1 + [(1, "2024-01-01 10:08:00", 5.5)]
    assert out2 == batch_twin(retained_l, retained_r)


def test_stream_stream_interval_join_left_outer(spark, tmp_path):
    """leftOuter stream-stream: matched rows emit immediately; an
    UNMATCHED left row emits its NULL-padded result only after the
    watermark passes (state can prove no future match) — exercised by
    advancing event time in a second availableNow run."""
    import json as _json
    import os

    from automated_datastore_discovery_with_aws_glue_spark.streaming.enrich import stream_interval_join

    lsrc, rsrc = str(tmp_path / "l"), str(tmp_path / "r")
    ckpt, outdir = str(tmp_path / "c"), str(tmp_path / "o")
    os.makedirs(lsrc)
    os.makedirs(rsrc)

    def put(src, key, rows):
        with open(f"{src}/b{len(os.listdir(src))}.json", "w") as fh:
            for u, ts, v in rows:
                fh.write(_json.dumps({"user_id": u, "ts": ts, key: v}) + "\n")

    def run():
        lt = spark.readStream.schema("user_id long, ts timestamp, amount double").json(lsrc)
        rt = spark.readStream.schema("user_id long, ts timestamp, rate double").json(rsrc)
        j = stream_interval_join(
            lt, rt, "user_id", lookback_sec=300,
            left_watermark="2 minutes", right_watermark="2 minutes",
            how="leftOuter",
        )
        q = (
            j.writeStream.format("parquet").outputMode("append")
            .option("path", outdir).option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        assert q.awaitTermination(180)

    def got():
        return {
            (r["user_id"], str(r["ts"]), r["rate"])
            for r in spark.read.schema(
                "user_id long, ts timestamp, amount double, ts_r timestamp, rate double"
            ).parquet(outdir).collect()
        }

    put(lsrc, "amount", [(1, "2024-01-01 10:00:00", 5.0), (2, "2024-01-01 10:00:00", 6.0)])
    put(rsrc, "rate", [(1, "2024-01-01 09:58:00", 1.5)])
    run()
    # matched pair emits in run 1; user 2 is still held (a matching
    # right row could yet arrive within the watermark)
    assert (1, "2024-01-01 10:00:00", 1.5) in got()

    # advance both streams' event time far past the watermark horizon
    put(lsrc, "amount", [(9, "2024-01-01 11:00:00", 1.0)])
    put(rsrc, "rate", [(9, "2024-01-01 11:00:00", 2.0)])
    run()
    assert (2, "2024-01-01 10:00:00", None) in got(), got()


def test_stream_interval_join_secondary_collision_is_loud(spark):
    """r10 (ADVICE r9): a right frame already carrying '<col>_r' next to
    a colliding '<col>' raises instead of producing duplicate names."""
    from automated_datastore_discovery_with_aws_glue_spark.streaming.enrich import stream_interval_join

    left = spark.createDataFrame(
        [(1, None)], "user_id int, ts timestamp"
    )
    right = spark.createDataFrame(
        [(1, None, 2.0)], "user_id int, ts timestamp, ts_r double"
    )
    with pytest.raises(ValueError, match="collides again"):
        stream_interval_join(left, right, "user_id")


def test_streaming_ann_ingest_restart_and_replay_equals_batch(spark, tmp_path):
    """r10 (VERDICT r9 item 4): a REAL writeStream.foreachBatch drives
    IvfVectorIndex.ingest across a checkpoint restart; a redelivered
    micro-batch no-ops, and the final index equals the batch-built one
    (same centroids + same stored assignment)."""
    import numpy as np

    from automated_datastore_discovery_with_aws_glue_spark.operators.ann import IvfVectorIndex

    rng = np.random.RandomState(11)
    all_rows = [
        (i, [float(x) for x in rng.standard_normal(8)]) for i in range(90)
    ]
    schema = "vec_id bigint, embedding array<double>"
    seed = spark.createDataFrame(all_rows[:30], schema)
    batch_a = all_rows[30:60]
    batch_b = all_rows[60:]

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    ix = IvfVectorIndex(spark, str(tmp_path / "ix"), n_cells=4, iterations=1)
    ix.build(seed)

    def put(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            stream.writeStream.foreachBatch(
                lambda b, bid: ix.ingest(b, batch_id=int(bid) + 1)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    put(batch_a)
    run()
    n1 = ix.vectors().count()
    assert n1 == 60
    # simulated at-least-once redelivery of the committed micro-batch
    ix.ingest(spark.createDataFrame(batch_a, schema), batch_id=1)
    assert ix.vectors().count() == n1

    put(batch_b)
    run()  # restart from checkpoint: only the new files, as batch 1 -> id 2
    assert ix.vectors().count() == 90
    assert ix.store.table_meta("vectors")["applied_batch_ids"] == [0, 1, 2]

    # cross-restart index == one-shot batch-built index (same training
    # slice -> same stored integer quantizer -> identical assignment)
    one = IvfVectorIndex(spark, str(tmp_path / "one"), n_cells=4, iterations=1)
    one.build(seed)
    one.ingest(spark.createDataFrame(batch_a + batch_b, schema), batch_id=1)
    assert one.centroids_int() == ix.centroids_int()

    def content(i):
        return {
            (r["vec_id"], r["_cell"])
            for r in i.vectors().select("vec_id", "_cell").collect()
        }

    assert content(one) == content(ix)


def test_streaming_ann_drift_monitor_trips_and_rebuild_clears(spark, tmp_path):
    """r10: the closed loop — a drifting stream ingested via
    foreachBatch trips needs_rebuild() (metadata counters only), the
    operator response (rebuild on the full corpus) clears it, and the
    stream keeps ingesting exactly-once afterwards."""
    import numpy as np

    from automated_datastore_discovery_with_aws_glue_spark.operators.ann import IvfVectorIndex

    rng = np.random.RandomState(23)
    spread_rows = [
        (i, [float(x) for x in rng.standard_normal(8)]) for i in range(80)
    ]
    schema = "vec_id bigint, embedding array<double>"
    ix = IvfVectorIndex(spark, str(tmp_path / "ix"), n_cells=4, iterations=2)
    ix.build(spark.createDataFrame(spread_rows, schema))
    assert not ix.needs_rebuild(threshold=2.5)

    # drifted stream: one dominant direction floods one cell
    drift_rows = [
        (1000 + i, [8.0, 0.05 * (i % 5)] + [0.0] * 6) for i in range(300)
    ]
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(drift_rows, schema).coalesce(1).write.mode("append").parquet(src)

    tripped = []

    def sink(batch, bid):
        ix.ingest(batch, batch_id=int(bid) + 1)
        if ix.needs_rebuild(threshold=2.5):
            tripped.append(int(bid))

    q = (
        spark.readStream.schema(schema).parquet(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert tripped, "drifting stream must trip the monitor"

    # operator response: rebuild on everything ingested so far
    ix.rebuild(ix.vectors().select("vec_id", "embedding"))
    assert not ix.needs_rebuild(threshold=2.5)
    n = ix.vectors().count()
    assert n == 380
    # the stream's replay guard survives the rebuild (watermark kept)
    ix.ingest(spark.createDataFrame(drift_rows, schema), batch_id=1)
    assert ix.vectors().count() == n
