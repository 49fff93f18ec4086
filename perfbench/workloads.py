"""The benchmark's workloads, each driven through public engine calls.

A workload has three phases, all run by ``run.py``:

- ``setup(root)``: generate the seeded inputs and build the prebuilt
  state under ``root`` (run several times; the last one is kept);
- ``step(i)``: one measured operation of the closed loop (one client,
  the next operation starts when the previous one returned);
- ``gate()``: check every result against planted truth after the loop.

``Sizes`` fixes every input size so the amount of work per operation is
independent of the seed; the seed only changes values.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import time
from dataclasses import dataclass

import numpy as np

import gen

#: the detector set of the daily catalog: the universal PII entities
#: plus the US SSN
DELTA_ENTITIES = [
    "USA_SSN",
    "EMAIL",
    "PHONE_NUMBER",
    "CREDIT_CARD",
    "IP_ADDRESS",
    "MAC_ADDRESS",
    "PERSON_NAME",
    "BANK_ACCOUNT",
]
THRESHOLD = 0.1
TAGS = {"gdpr-scan": "true", "APP_ID": "app-7", "APP_NAME": "ledger", "Data Subjects": "customers"}

TRACKER_SCHEMA = (
    "id string, data_source_type string, glue_job_created boolean, "
    "data_catalog_entry boolean, data_source_attrs map<string,string>, "
    "data_catalog_table_name string, data_catalog_db_name string, "
    "tags map<string,string>"
)


@dataclass(frozen=True)
class Sizes:
    delta_sources: int = 3  # cataloged in set-up
    delta_rows: int = 300  # rows per landed file
    delta_touched: int = 2  # sources receiving a file per cycle
    dedup_bulk: int = 6000
    dedup_batch: int = 800
    dedup_batches: int = 40
    vec_n: int = 20000
    vec_dim: int = 32
    vec_clusters: int = 128  # many clusters per cell: cells fill evenly
    vec_ingest_every: int = 10
    vec_ingest_n: int = 200


TINY = Sizes(
    delta_sources=2,
    delta_rows=60,
    dedup_bulk=400,
    dedup_batch=100,
    dedup_batches=8,
    vec_n=800,
    vec_clusters=32,
    vec_ingest_n=20,
)


def du(path: str) -> int:
    """Bytes under ``path``, each inode counted once (hard links share)."""
    seen, total = set(), 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            st = os.lstat(os.path.join(root, f))
            if (st.st_dev, st.st_ino) not in seen:
                seen.add((st.st_dev, st.st_ino))
                total += st.st_size
    return total


class Workload:
    """Shared plumbing: samples, counters, failures, teardown."""

    name = ""

    def __init__(self, spark, seed: int, tracer, sizes: Sizes):
        self.spark, self.seed, self.tracer, self.sizes = spark, seed, tracer, sizes
        # operation latencies by kind, untraced and traced apart
        self.lat: dict[str, list[float]] = {}
        self.lat_traced: dict[str, list[float]] = {}
        self.setup_lat: dict[str, list[float]] = {}  # timed set-up phases
        self.items = 0
        self.attempted = 0
        self.failed = 0
        self.extra: dict[str, float] = {}
        self.failures: list[str] = []
        self._dbs: list[str] = []

    def timed(self, kind: str, fn):
        """Run ``fn`` as one operation sample of ``kind``."""
        t0 = time.perf_counter()
        with self.tracer.span("op"):
            out = fn()
        samples = self.lat_traced if self.tracer.active else self.lat
        samples.setdefault(kind, []).append(time.perf_counter() - t0)
        return out

    def setup_timed(self, kind: str, fn):
        """Run ``fn`` in set-up as one sample of ``kind``."""
        t0 = time.perf_counter()
        out = fn()
        self.setup_lat.setdefault(kind, []).append(time.perf_counter() - t0)
        return out

    def reset_samples(self) -> None:
        """Forget the samples of warm-up operations."""
        self.lat, self.lat_traced, self.items = {}, {}, 0

    def check(self, ok: bool, what: str) -> None:
        """Count one gate check; a failed one is a failed result."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def span(self, name: str):
        return self.tracer.span(name)

    def database(self) -> str:
        db = f"bench_{hashlib.sha1(os.urandom(8)).hexdigest()[:10]}"
        self._dbs.append(db)
        return db

    def discard(self, root: str) -> None:
        for db in self._dbs:
            self.spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        self._dbs.clear()
        shutil.rmtree(root, ignore_errors=True)

    def state_ratio(self) -> float:
        return du(self.state_root) / self.input_bytes


# -- daily_delta -------------------------------------------------------------


class DailyDelta(Workload):
    name = "daily_delta"

    def setup(self, root: str) -> None:
        from automated_datastore_discovery_with_aws_glue_spark.catalog.engine import DiscoveryEngine

        self.root = root
        self.rng = random.Random(f"delta:{self.seed}")
        self.idents = gen.identity_rows(self.spark, 1000, self.seed)
        self.sources: list[gen.SourceSpec] = []
        for _ in range(self.sizes.delta_sources):
            self.sources.append(self._new_source())
        self.state_root = os.path.join(root, "state")
        self.eng = DiscoveryEngine(self.spark, self.state_root, database=self.database())
        self.setup_timed("onboard", lambda: self._onboard(self.eng, self.sources))
        self.setup_timed("register", lambda: self.eng.register_pending("s3"))
        self._classify_publish(self.eng)

    def _dir(self, spec: gen.SourceSpec) -> str:
        return os.path.join(self.root, "src", spec.name)

    def _new_source(self) -> gen.SourceSpec:
        spec = gen.source_spec(f"src{len(self.sources)}", gen.DELTA_KINDS, self.rng)
        for f in range(2):
            self._land(spec, f"day-{f:03d}.csv")
        return spec

    def _land(self, spec: gen.SourceSpec, fname: str) -> int:
        gen.write_csv(os.path.join(self._dir(spec), fname), spec, self.sizes.delta_rows, self.rng, self.idents,
                      start_id=sum(spec.files.values()))
        return self.sizes.delta_rows * len(spec.columns)

    def _onboard(self, eng, sources) -> None:
        rows = [
            (hashlib.sha256(s.name.encode()).hexdigest()[:32], "s3", False, False,
             {"path": self._dir(s), "name": s.name, "format": "csv"}, None, None, TAGS)
            for s in sources
        ]
        eng.onboard_batch(self.spark.createDataFrame(rows, TRACKER_SCHEMA))

    @staticmethod
    def _classify_publish(eng) -> None:
        eng.classify_pending("s3", DELTA_ENTITIES, detection_threshold=THRESHOLD)
        eng.publish_findings()

    @staticmethod
    def drifts(i: int) -> bool:
        # the warm-up cycle drifts, so the first cycles of the window
        # are plain ones and feed op_p50
        return i % 4 == 0

    def _land_day(self, i: int) -> int:
        """A seeded subset of the sources gets the day's file; every fourth
        cycle the first of them drifts instead (alternately a rewritten
        file and a new column across all of its files). Returns the cells
        that need classifying."""
        day = f"day-{i + 2:03d}.csv"
        touched = self.rng.sample(self.sources, self.sizes.delta_touched)
        cells = 0
        for k, spec in enumerate(touched):
            if not self.drifts(i) or k:
                cells += self._land(spec, day)
            elif (i // 4) % 2 == 0:
                spec.files.pop("day-000.csv")
                cells += self._land(spec, "day-000.csv")
            else:
                col = f"backup_email_{i}"
                spec.columns.append(col)
                spec.kinds[col] = "email"
                spec.planted[col] = "EMAIL"
                for f in sorted(spec.files):
                    spec.files.pop(f)
                    cells += self._land(spec, f)
        return cells

    def step(self, i: int) -> None:
        cells = self._land_day(i)
        eng = self.eng

        def cycle():
            with self.span("catalog.recrawl"):
                report = eng.recrawl("s3")
            with self.span("catalog.classify"):
                eng.classify_pending("s3", DELTA_ENTITIES, detection_threshold=THRESHOLD)
            with self.span("catalog.publish"):
                eng.publish_findings()
            return report

        # drift cycles are their own sample kind: op_p50 stays the plain
        # daily cycle, and the heavier drift cycles show in the tail
        report = self.timed("drift" if self.drifts(i) else "op", cycle)
        self.tracer.count("catalog.recrawl_checked", len(report))
        self.tracer.count("catalog.recrawl_skipped", sum(1 for r in report if r["skipped"]))
        self.tracer.count("classify.cells", cells)
        if not self.drifts(i):
            self.items += self.sizes.delta_rows * self.sizes.delta_touched

        # the fixed batch of report reads, each its own sample
        def read(fn):
            with self.span("catalog.report"):
                return fn()

        self.timed("report", lambda: read(lambda: eng.pending_catalog("s3").collect()))
        latest = self.timed("report", lambda: read(lambda: eng.latest_findings().collect()))
        pick = latest[i % len(latest)]
        self.timed("report", lambda: read(
            lambda: eng.findings_for(pick["data_catalog_table"], pick["timestamp"]).collect()))
        self.timed("report", lambda: read(lambda: eng.tag_report("s3").collect()))
        # the periodic retention pass falls on an even cycle, which a
        # traced run traces
        if i % 4 == 2:
            def maintain():
                with self.span("catalog.maintain"):
                    eng.maintain(keep=3)

            self.timed("maintain", maintain)

    def gate(self) -> None:
        """Final findings equal both the registry's verdict on the planted
        values and a from-scratch classify of the final file set."""
        from automated_datastore_discovery_with_aws_glue_spark.catalog.engine import DiscoveryEngine

        scratch = DiscoveryEngine(self.spark, os.path.join(self.root, "scratch_state"), database=self.database())
        self._onboard(scratch, self.sources)
        scratch.register_pending("s3")
        self._classify_publish(scratch)

        def by_table(eng):
            out: dict[str, dict[str, tuple]] = {}
            for r in eng.latest_findings().select("data_catalog_table", "columnName", "entityTypes").collect():
                out.setdefault(r[0], {})[r[1]] = tuple(sorted(r[2]))
            return out

        got, fresh = by_table(self.eng), by_table(scratch)
        for spec in self.sources:
            table = f"s3_{spec.name}"
            paths = [os.path.join(self._dir(spec), f) for f in spec.files]
            truth = gen.expected_findings(gen.read_columns(paths, spec.columns), DELTA_ENTITIES, THRESHOLD)
            missing = [c for c, e in spec.planted.items() if e not in truth.get(c, ())]
            if missing:
                raise RuntimeError(f"generator planted no detectable entity in {table}.{missing}")
            self.check(got.get(table) == truth, f"{table}: findings {got.get(table)} != planted truth {truth}")
            self.check(got.get(table) == fresh.get(table), f"{table}: findings differ from a from-scratch classify")

    @property
    def input_bytes(self) -> int:
        return du(os.path.join(self.root, "src"))


# -- corpus_dedup ------------------------------------------------------------

RECALL_FLOOR = 0.9


class CorpusDedup(Workload):
    name = "corpus_dedup"

    def setup(self, root: str) -> None:
        from automated_datastore_discovery_with_aws_glue_spark.plans.incremental import CorpusDedupIndex

        z = self.sizes
        self.corpus = gen.dedup_corpus(self.seed, bulk=z.dedup_bulk, batch=z.dedup_batch, n_batches=z.dedup_batches)
        self.state_root = os.path.join(root, "index")
        self.idx = CorpusDedupIndex(self.spark, self.state_root, threshold=0.5)
        bulk = self.spark.createDataFrame(self.corpus.bulk, "doc_id long, text string")
        self.setup_timed("bulk", lambda: self.idx.ingest(bulk))
        self.ingested = [d for d, _ in self.corpus.bulk]
        self.input_bytes = sum(len(t.encode()) + 8 for _, t in self.corpus.bulk)
        self.outs: list[tuple[list, object]] = []

    def step(self, i: int) -> None:
        if i >= len(self.corpus.batches):
            raise RuntimeError("corpus_dedup: generated batches exhausted; raise Sizes.dedup_batches")
        docs = self.corpus.batches[i]
        df = self.spark.createDataFrame(docs, "doc_id long, text string")

        def delta():
            with self.span("dedup.delta"):
                return self.idx.ingest(df)

        self.outs.append((docs, self.timed("op", delta)))
        self.items += len(docs)
        self.input_bytes += sum(len(t.encode()) + 8 for _, t in docs)
        self.ingested += [d for d, _ in docs if d not in self.corpus.replays[i]]

    def gate(self) -> None:
        c = self.corpus
        kept_rows = [r[0] for r in self.idx.kept_ids().collect()]
        kept = set(kept_rows)
        seen = set(self.ingested)
        for i, (docs, out) in enumerate(self.outs):
            replayed = c.replays[i]
            survived = replayed & {r[0] for r in out.select("doc_id").collect()}
            self.check(not survived, f"batch {i}: exact replays {sorted(survived)[:5]} survived")
        near = c.near_dups & seen
        orig = c.originals & seen
        self.extra["dedup.recall"] = len(near - kept) / max(1, len(near))
        # ids grow with arrival, so ids past the bulk load were kept by a delta
        delta_docs = sum(len(d) for d, _ in self.outs)
        self.extra["dedup.kept_ratio"] = sum(1 for k in kept if k >= len(c.bulk)) / max(1, delta_docs)
        self.check(self.extra["dedup.recall"] >= RECALL_FLOOR, "planted near-dup recall below floor")
        self.check(len(orig & kept) >= 0.99 * len(orig), "distinct documents dropped")
        self.check(len(kept_rows) == len(kept), "an id is indexed twice")


# -- vector_serve --------------------------------------------------------------

TOPK_RECALL_FLOOR = 0.9
TOPK, N_PROBE, N_CELLS = 10, 4, 16


class VectorServe(Workload):
    name = "vector_serve"

    def setup(self, root: str) -> None:
        from automated_datastore_discovery_with_aws_glue_spark.operators.ann import IvfVectorIndex

        z = self.sizes
        self.corpus = gen.vector_corpus(self.seed, n=z.vec_n, dim=z.vec_dim, clusters=z.vec_clusters)
        self.rng = np.random.default_rng([self.seed, 11])
        self.vectors = self.corpus.vectors
        self.state_root = os.path.join(root, "index")
        self.ix = IvfVectorIndex(self.spark, self.state_root, n_cells=N_CELLS, iterations=2)
        df = self.spark.createDataFrame(
            [(i, v.tolist()) for i, v in enumerate(self.vectors)], "vec_id long, embedding array<double>"
        )
        self.setup_timed("build", lambda: self.ix.build(df))
        self.queries: list[tuple[np.ndarray, list[int], int]] = []
        self.input_bytes = self.vectors.nbytes + 8 * len(self.vectors)

    def step(self, i: int) -> None:
        z = self.sizes
        if i and i % z.vec_ingest_every == 0:
            new, _ = gen.clustered(self.rng, self.corpus.centers, z.vec_ingest_n)
            base = len(self.vectors)
            df = self.spark.createDataFrame(
                [(base + j, v.tolist()) for j, v in enumerate(new)], "vec_id long, embedding array<double>"
            )

            def ingest():
                with self.span("ann.ingest"):
                    self.ix.ingest(df)

            self.timed("ingest", ingest)
            self.vectors = np.vstack([self.vectors, new])
            self.input_bytes += new.nbytes + 8 * len(new)
        q, _ = gen.clustered(self.rng, self.corpus.centers, 1)
        query = q[0].tolist()

        def topk():
            with self.span("ann.topk"):
                return self.ix.topk(query, TOPK, n_probe=N_PROBE).collect()

        rows = self.timed("op", topk)
        self.queries.append((q[0], [r["vec_id"] for r in rows], len(self.vectors)))
        self.items += 1

    def gate(self) -> None:
        """recall@10 against a brute-force top-k of the same snapshot."""
        unit = self.vectors / np.linalg.norm(self.vectors, axis=1, keepdims=True)
        recalls = []
        for q, got, n in self.queries:
            sims = np.round(unit[:n] @ (q / np.linalg.norm(q)), 4)
            want = np.lexsort((np.arange(n), -sims))[:TOPK]
            recalls.append(len(set(got) & set(want.tolist())) / TOPK)
            # far off the exact answer: a wrong result
            self.check(recalls[-1] >= 0.5, f"query {len(recalls) - 1}: recall@10 {recalls[-1]}")
        self.extra["ann.recall_at_10"] = float(np.mean(recalls))
        self.check(self.extra["ann.recall_at_10"] >= TOPK_RECALL_FLOOR, "mean recall@10 below floor")


WORKLOADS = {w.name: w for w in (DailyDelta, CorpusDedup, VectorServe)}
