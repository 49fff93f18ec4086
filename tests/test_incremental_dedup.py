"""Incremental corpus dedup (plans/incremental.py): a growing corpus
dedups per batch against a persisted LSH index — no history re-scan."""

from __future__ import annotations

import pytest
import pyspark.sql.functions as F

from automated_datastore_discovery_with_aws_glue_spark.plans.incremental import CorpusDedupIndex

BASE = "the quick brown fox jumps over the lazy dog while the calm river flows past the old stone bridge"
OTHER = "completely different content about spark adaptive execution and shuffle partition tuning at scale"
THIRD = "unrelated third document discussing parquet row groups column pruning and predicate pushdown"


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


@pytest.fixture()
def index(spark, tmp_path):
    return CorpusDedupIndex(spark, str(tmp_path / "idx"), threshold=0.5)


def test_cross_batch_dedup_matches_batch_operator(spark, index):
    """Arrival order == id order: the union of per-batch survivors
    equals the one-shot batch canonical dedup of the full corpus."""
    from automated_datastore_discovery_with_aws_glue_spark.operators.dedup import (
        dedup_canonical,
        minhash_lsh_pairs,
    )
    from automated_datastore_discovery_with_aws_glue_spark.operators.cache import release

    b1 = [(1, BASE), (2, OTHER), (3, BASE.replace("quick", "swift"))]
    b2 = [(4, BASE.replace("lazy", "idle")), (5, THIRD), (6, OTHER + " extra")]

    kept1 = sorted(r["doc_id"] for r in index.ingest(_docs(spark, b1)).collect())
    assert kept1 == [1, 2]  # 3 is a within-batch near-dup of 1

    kept2 = sorted(r["doc_id"] for r in index.ingest(_docs(spark, b2)).collect())
    # 4 near-dups indexed 1; 6 near-dups indexed 2; 5 is fresh
    assert kept2 == [5]
    assert sorted(r["id"] for r in index.kept_ids().collect()) == [1, 2, 5]

    # one-shot batch truth over the full corpus
    full = _docs(spark, b1 + b2)
    pairs = minhash_lsh_pairs(full, "doc_id", "text", threshold=0.5)
    canon = dedup_canonical(full, pairs, "doc_id")
    want = sorted(r["doc_id"] for r in canon.collect())
    release(canon)
    assert sorted([1, 2, 5]) == want


def test_exact_replay_and_immutability(spark, index):
    """Replayed ids dedup to nothing (idempotent re-ingest); a bridge
    doc near-dupping TWO existing canonicals drops without retracting
    either (published canonicals are immutable)."""
    a = "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima mike november"
    b = "alpha bravo charlie delta echo foxtrot golf hotel oscar papa quebec romeo sierra tango"
    # a and b share a 8-word prefix: J < 0.5 -> both canonical
    kept = sorted(r["doc_id"] for r in index.ingest(_docs(spark, [(1, a), (2, b)])).collect())
    assert kept == [1, 2]

    # replay the same batch: nothing new survives, index unchanged
    assert index.ingest(_docs(spark, [(1, a), (2, b)])).count() == 0
    assert sorted(r["id"] for r in index.kept_ids().collect()) == [1, 2]

    # a near-identical newcomer (one word swapped toward b's vocabulary)
    # drops against the index; BOTH existing canonicals stay — published
    # canonicals are immutable, never retracted or merged
    bridge = a.replace("kilo lima", "oscar papa")
    assert index.ingest(_docs(spark, [(3, bridge)])).count() == 0
    assert sorted(r["id"] for r in index.kept_ids().collect()) == [1, 2]


def test_returned_frame_survives_operator_cache_release(spark, index):
    """The ingest result is lineage-severed (localCheckpoint): actions on
    it long after the call — when the operator's internal caches are
    gone — still work."""
    import gc

    out = index.ingest(_docs(spark, [(1, BASE), (2, OTHER)]))
    gc.collect()
    assert {r["doc_id"] for r in out.select("doc_id").collect()} == {1, 2}
    assert out.count() == 2


def test_streaming_front_door(spark, tmp_path, index):
    """readStream -> foreachBatch(index.make_sink): cross-batch near-dups
    drop against the DURABLE index (no watermark expiry), survivors land
    in the output dir, and a replayed batch adds nothing."""
    import json as _json
    import os

    src, ckpt = str(tmp_path / "docs"), str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "kept")
    os.makedirs(src)

    def write_batch(rows):
        with open(f"{src}/b{len(os.listdir(src))}.json", "w") as fh:
            for doc_id, text in rows:
                fh.write(_json.dumps({"doc_id": doc_id, "text": text}) + "\n")

    sink = index.make_sink(out_dir)

    def run(fresh_ckpt=None):
        stream = spark.readStream.schema("doc_id bigint, text string").json(src)
        q = (
            stream.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", fresh_ckpt or ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "stream did not finish in time"

    write_batch([(1, BASE), (2, OTHER)])
    run()
    write_batch([(3, BASE.replace("quick", "swift")), (4, THIRD)])
    run()
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out_dir).collect())
    assert kept == [1, 2, 4]  # 3 deduped against the indexed 1

    # full replay with a FRESH checkpoint: idempotent re-ingest — the
    # index swallows every already-seen id, nothing new lands
    run(fresh_ckpt=str(tmp_path / "ckpt2"))
    kept2 = sorted(r["doc_id"] for r in spark.read.parquet(out_dir).collect())
    assert kept2 == [1, 2, 4]


def test_probe_is_read_only_contamination_check(spark, index):
    """probe(): near-dup lookup against the index without ingesting —
    a reworded indexed doc matches, a fresh doc doesn't, and the index
    is unchanged afterwards; maintain() trims versions."""
    index.ingest(_docs(spark, [(1, BASE), (2, OTHER)]))
    index.ingest(_docs(spark, [(5, THIRD)]))

    queries = _docs(spark, [(100, BASE.replace("quick", "swift")), (101, "wholly novel words nowhere indexed")])
    hits = {(r["id_a"], r["id_b"]) for r in index.probe(queries).collect()}
    assert (100, 1) in hits
    assert not [h for h in hits if h[0] == 101]
    # read-only: canonical set unchanged
    assert sorted(r["id"] for r in index.kept_ids().collect()) == [1, 2, 5]

    # retention: versions trimmed, reads alive
    index.maintain(keep=1)
    assert len(index.store.versions("kept_docs")) == 1
    assert sorted(r["id"] for r in index.kept_ids().collect()) == [1, 2, 5]


def test_crash_between_bucket_and_doc_appends_recovers_on_replay(spark, index, monkeypatch):
    """Commit-order invariant (BUCKETS before DOCS): a crash in the
    window between the two appends must NOT make the batch's near-dups
    permanently undetectable. Simulate the crash by failing the DOCS
    append, replay the batch, then prove a near-dup of it still drops."""
    from automated_datastore_discovery_with_aws_glue_spark.plans import incremental as inc

    index.ingest(_docs(spark, [(1, OTHER)]))  # unrelated seed

    real_commit = index.store._commit_staged

    def crashing_commit(table, staging, **kw):
        # the two appends stage concurrently (append_many) but COMMIT in
        # order; dying on the DOCS pointer flip is exactly the window —
        # BUCKETS committed, DOCS not
        if table == inc.DOCS:
            import shutil

            shutil.rmtree(staging, ignore_errors=True)
            raise RuntimeError("simulated crash between appends")
        return real_commit(table, staging, **kw)

    monkeypatch.setattr(index.store, "_commit_staged", crashing_commit)
    with pytest.raises(RuntimeError, match="simulated crash"):
        index.ingest(_docs(spark, [(2, BASE)]))
    monkeypatch.setattr(index.store, "_commit_staged", real_commit)

    # BUCKETS has the orphan rows, DOCS does not -> id 2 is NOT indexed
    assert sorted(r["id"] for r in index.kept_ids().collect()) == [1]

    # replay reprocesses id 2 (filter keys on DOCS), orphan bucket rows
    # are benign (their candidate pairs drop at the DOCS shingle join)
    kept = sorted(r["doc_id"] for r in index.ingest(_docs(spark, [(2, BASE)])).collect())
    assert kept == [2]
    assert sorted(r["id"] for r in index.kept_ids().collect()) == [1, 2]

    # the property the ordering protects: near-dups of 2 still detected
    assert index.ingest(_docs(spark, [(3, BASE.replace("quick", "swift"))])).count() == 0


def test_sink_replay_recovers_rows_lost_before_append(spark, tmp_path, index):
    """make_sink crash window: indexed but not yet written to out_dir.
    The emitted_ids bookkeeping must re-emit those rows on replay, and a
    second replay of the now-committed batch must add nothing."""
    out_dir = str(tmp_path / "kept")
    sink = index.make_sink(out_dir)

    batch = _docs(spark, [(1, BASE), (2, OTHER)])
    # simulate "crash before the parquet append": the ingest half ran...
    index.ingest(batch)
    assert sorted(r["id"] for r in index.kept_ids().collect()) == [1, 2]
    # ...then the foreachBatch retries the whole batch
    sink(batch, 0)
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out_dir).collect())
    assert kept == [1, 2]  # recovered, not lost

    # replay of the fully-committed batch: exactly-once, no duplicates
    sink(batch, 0)
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out_dir).collect())
    assert kept == [1, 2]


def test_index_scan_prunes_to_probed_bucket_ranges(spark, tmp_path):
    """The lsh_buckets table is hash-range-partitioned on pt =
    pmod(bucket, index_partitions); a probe must reach the stored scan
    as a planning-time PartitionFilter over its own bounded pt set —
    not a post-scan filter over the whole index."""
    import re

    idx = CorpusDedupIndex(spark, str(tmp_path / "idx"), threshold=0.5, index_partitions=64)
    idx.ingest(_docs(spark, [(1, BASE), (2, OTHER), (3, THIRD)]))

    probe_df = idx.probe(_docs(spark, [(100, BASE.replace("quick", "swift"))]))
    plan = probe_df._sc._jvm.PythonSQLUtils.explainString(
        probe_df._jdf.queryExecution(), "formatted"
    )
    # BOTH index tables prune: lsh_buckets to the probed bucket ranges
    # (INSET of at most 16 pt values for one doc x 16 bands), kept_docs
    # (the heavyweight shingle payload) to the candidate id ranges
    # (equality/INSET depending on candidate count)
    chunks = {}
    for part in plan.split("Location: ")[1:]:
        for table in ("lsh_buckets", "kept_docs"):
            if table in part.split("\n", 1)[0]:
                m2 = re.search(r"PartitionFilters: \[([^\]]*)\]", part)
                chunks.setdefault(table, []).append(m2.group(1) if m2 else "")
    assert any("INSET" in f for f in chunks["lsh_buckets"]), chunks
    m = re.search(r"INSET ([\d, ]+)", " ".join(chunks["lsh_buckets"]))
    assert len(m.group(1).split(",")) <= 16
    assert any("pt#" in f for f in chunks["kept_docs"]), chunks
    # and the pruned probe still finds the near-dup
    hits = {(r["id_a"], r["id_b"]) for r in probe_df.collect()}
    assert (100, 1) in hits


def test_index_hot_bucket_valve_routes_to_representative(spark, tmp_path):
    """max_bucket valve on the stored-side join: over-cap (band, bucket)
    groups contribute ONE representative row instead of their full
    membership (O(probe), not O(probe x members)), and on a corpus with
    no hot buckets the valved index's canonical set is identical to the
    unvalved one."""
    valved = CorpusDedupIndex(
        spark, str(tmp_path / "v"), threshold=0.5, max_bucket=0
    )  # cap 0: EVERY stored group routes through the rep path
    plain = CorpusDedupIndex(spark, str(tmp_path / "p"), threshold=0.5)

    b1 = [(1, BASE), (2, OTHER)]
    b2 = [(3, BASE.replace("quick", "swift")), (4, THIRD)]
    for idx in (valved, plain):
        idx.ingest(_docs(spark, b1))
        idx.ingest(_docs(spark, b2))
    assert (
        sorted(r["id"] for r in valved.kept_ids().collect())
        == sorted(r["id"] for r in plain.kept_ids().collect())
        == [1, 2, 4]
    )

    # the wiring fact: with the valve engaged the stored side carries at
    # most one row per (band, bucket) group
    base_probe = _docs(spark, [(100, BASE)])
    from automated_datastore_discovery_with_aws_glue_spark.operators.dedup import (
        _banded,
        _shingle_frame,
    )

    base = _shingle_frame(base_probe, "doc_id", "text", valved.n)
    banded = _banded(base, valved.num_hashes, valved.bands)
    stored_side, sizes = valved._pruned_stored_side(banded, "test-valve")
    per_group = stored_side.groupBy("band", "bucket").count().agg(F.max("count")).collect()[0][0]
    assert per_group == 1
    if sizes is not None:
        sizes.unpersist()


def test_rebuild_from_batch_canonical_probe_parity(spark, index):
    """The global re-canonicalization bridge: rebuild the index from a
    one-shot batch dedup_canonical pass over the full corpus. On a
    corpus where arrival order == id order the rebuilt index must equal
    the incrementally-built one — same canonical set, bit-equal probe()
    results — and ingest keeps working against the rebuilt tables."""
    b1 = [(1, BASE), (2, OTHER)]
    b2 = [(3, BASE.replace("quick", "swift")), (4, THIRD)]
    index.ingest(_docs(spark, b1))
    index.ingest(_docs(spark, b2))
    assert sorted(r["id"] for r in index.kept_ids().collect()) == [1, 2, 4]

    queries = _docs(
        spark,
        [(100, BASE.replace("quick", "swift")), (101, "wholly novel words nowhere indexed")],
    )
    hits_before = {tuple(r) for r in index.probe(queries).collect()}
    assert {h[:2] for h in hits_before} == {(100, 1)}

    rebuilt = index.rebuild(_docs(spark, b1 + b2))
    assert sorted(r["doc_id"] for r in rebuilt.collect()) == [1, 2, 4]
    assert sorted(r["id"] for r in index.kept_ids().collect()) == [1, 2, 4]

    # probe parity across the rebuild — same hits, same jaccards
    hits_after = {tuple(r) for r in index.probe(queries).collect()}
    assert hits_after == hits_before

    # the incremental path continues against the rebuilt tables
    assert index.ingest(_docs(spark, [(5, BASE.replace("lazy", "idle"))])).count() == 0
    kept = sorted(r["doc_id"] for r in index.ingest(_docs(spark, [(6, "fresh unseen content entirely")])).collect())
    assert kept == [6]


def test_index_layout_params_are_pinned(spark, tmp_path):
    """Reopening an index with different hash-layout parameters must be
    a loud error (a different pt modulus silently excludes valid stored
    rows — a recall hole, not a crash); query-time knobs stay free."""
    root = str(tmp_path / "idx")
    CorpusDedupIndex(spark, root, index_partitions=64).ingest(
        _docs(spark, [(1, BASE)])
    )
    with pytest.raises(ValueError, match="hash layout is immutable"):
        CorpusDedupIndex(spark, root, index_partitions=128)
    with pytest.raises(ValueError, match="hash layout is immutable"):
        CorpusDedupIndex(spark, root, bands=8)
    # threshold / max_bucket are query-time: reopening with them differs is fine
    idx = CorpusDedupIndex(spark, root, threshold=0.7, max_bucket=100)
    assert sorted(r["id"] for r in idx.kept_ids().collect()) == [1]
