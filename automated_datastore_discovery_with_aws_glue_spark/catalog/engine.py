"""The discovery lifecycle engine — the reference's 17-Lambda pipeline as
~6 idempotent batch APIs over one SparkSession (SURVEY §3, §7.0).

State machine (tracker rows): ``(data_catalog_entry, glue_job_created)``
goes false/false -> true/false -> true/true, exactly the reference's flag
progression (`lambda/glue-tracking-initial/app.py:213-219` ->
`lambda/catalog-creator-s3/app.py:119-145` ->
`lambda/s3-glue-job-creator/app.py:146-166`); here the flags mean
"registered in the Spark catalog" and "classified at least once".

All scheduling is the caller's concern; every method is an idempotent
batch (re-running cannot corrupt state — MERGE keys are deterministic).
"""

from __future__ import annotations

import hashlib
import json
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from automated_datastore_discovery_with_aws_glue_spark.functions.sanitize import sanitize_identifier
from automated_datastore_discovery_with_aws_glue_spark.operators.classify import build_findings, classify_columns
from automated_datastore_discovery_with_aws_glue_spark.sources.readers import read_csv_source, read_json_items
from automated_datastore_discovery_with_aws_glue_spark.state.store import ParquetStateStore

TRACKER = "tracker"
FINDINGS = "pii_findings"
TAG_REPORT = "tag_report"
RDS_TAG_REPORT = "rds_tag_report"
#: per-(source, file, column, entity) match counts — the file-level
#: bookmark that makes re-classification O(changed files)
CLASSIFY_STATS = "classify_stats"
#: per-(source, file) listing signature recorded at register/recrawl —
#: the crawl-side bookmark that makes an append-only source's re-crawl
#: O(new files) instead of an O(table) managed-copy rewrite
CRAWL_MANIFEST = "crawl_manifest"

#: governance tags the reports capture (`lambda/s3-tag-report/app.py:18`)
REQUIRED_TAG_KEYS = (
    "APP_ID",
    "APP_NAME",
    "Purpose of Processing",
    "Data Subjects",
    "Business Function",
    "Processing Activity",
)

#: onboarding gate tag (`lambda/s3-trigger/app.py:14-18`)
GATE_TAG = ("gdpr-scan", "true")

_TRACKER_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("data_source_type", T.StringType()),
        T.StructField("glue_job_created", T.BooleanType()),
        T.StructField("data_catalog_entry", T.BooleanType()),
        T.StructField("data_source_attrs", T.MapType(T.StringType(), T.StringType())),
        T.StructField("data_catalog_table_name", T.StringType()),
        T.StructField("data_catalog_db_name", T.StringType()),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
    ]
)


#: data_source_attrs key holding the source's content fingerprint
FINGERPRINT_KEY = "content_fingerprint"


def _source_listing(attrs: dict[str, str]) -> tuple[str, list[tuple[str, int, int]]] | None:
    """Metadata-only file listing of a path-based source: the normalized
    root plus sorted (relative path, size, mtime_ns) entries — no data
    read. On an object store the (key, size, etag) listing plays the
    same role. Returns None for non-path sources (JDBC etc.)."""
    path = attrs.get("path")
    if not path:
        return None
    p = path[len("file:"):] if path.startswith("file:") else path
    if not os.path.exists(p):
        return None
    entries: list[tuple[str, int, int]] = []
    if os.path.isfile(p):
        st = os.stat(p)
        entries.append((os.path.basename(p), st.st_size, st.st_mtime_ns))
        p = os.path.dirname(p)
    else:
        for root, _dirs, files in os.walk(p):
            for name in files:
                fp = os.path.join(root, name)
                try:
                    st = os.stat(fp)
                except OSError:
                    # listed-then-deleted race (an upstream job rewriting
                    # the source): skip the vanished file — the resulting
                    # fingerprint is merely conservative (the deletion
                    # itself changes the listing, so drift is still seen)
                    continue
                entries.append((os.path.relpath(fp, p), st.st_size, st.st_mtime_ns))
    entries.sort()
    return os.path.abspath(p), entries


def _fingerprint_of(listing: tuple[str, list[tuple[str, int, int]]] | None) -> str | None:
    """Content fingerprint of a path-based source: sha256 over its
    sorted file listing; None for non-path sources."""
    if listing is None:
        return None
    _root, entries = listing
    return hashlib.sha256(json.dumps(entries).encode()).hexdigest()[:32]


def _listing_sigs(listing: tuple[str, list[tuple[str, int, int]]]) -> dict[str, str]:
    """relpath -> 'size:mtime_ns' signature map of a listing."""
    _root, entries = listing
    return {rel: f"{size}:{mtime}" for rel, size, mtime in entries}


def _attrs_with_fingerprint() -> F.Column:
    """MERGE expression updating ``data_source_attrs`` with the source
    batch's ``fp`` (map rebuilt without the old key — ``map_concat``
    rejects duplicates under the default dedup policy); rows with a NULL
    ``fp`` keep their attrs untouched."""
    empty = F.expr("CAST(map() AS MAP<STRING,STRING>)")
    updated = F.map_concat(
        F.map_filter(
            F.coalesce(F.col("tgt.data_source_attrs"), empty),
            lambda k, _v: k != F.lit(FINGERPRINT_KEY),
        ),
        F.create_map(F.lit(FINGERPRINT_KEY), F.col("src.fp")),
    )
    return F.when(F.col("src.fp").isNotNull(), updated).otherwise(
        F.col("tgt.data_source_attrs")
    )


def _source_id(source_type: str, attrs: dict[str, str]) -> str:
    """Deterministic tracker id from the natural key, so replayed
    onboarding events MERGE to no-ops (the reference dedups with
    ``attribute_not_exists(id)`` + queue delete; we get idempotence from
    the key itself)."""
    payload = json.dumps([source_type, sorted(attrs.items())])
    return hashlib.sha256(payload.encode()).hexdigest()[:32]


class DiscoveryEngine:
    def __init__(
        self,
        spark: SparkSession,
        state_root: str,
        *,
        database: str = "discovered",
        commit_backend=None,
    ):
        """``commit_backend`` passes through to the state store
        (``state/commit.py``): default POSIX lock+rename; pass
        ``ConditionalPutCommitBackend()`` on rename-less object-store
        postures — every tracker/findings/manifest mutation then commits
        via conditional PUTs."""
        self.spark = spark
        self.store = ParquetStateStore(spark, state_root, commit_backend=commit_backend)
        self.database = sanitize_identifier(database)
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {self.database}")

    def maintain(self, keep: int = 5) -> dict[str, int]:
        """Scheduled retention pass over every engine state table: vacuum
        all but the last ``keep`` versions of each (the bookkeeping
        tables — classify stats, crawl manifest — version-bump once per
        classify/recrawl batch, so a daily pipeline grows one version a
        day per table until trimmed). Returns {table: retained version
        count}. Time travel stays available within the retention window;
        hard links / manifests keep shared data alive (see
        ``ParquetStateStore.vacuum``)."""
        out: dict[str, int] = {}
        for table in (TRACKER, FINDINGS, TAG_REPORT, RDS_TAG_REPORT, CLASSIFY_STATS, CRAWL_MANIFEST):
            if self.store.exists(table):
                self.store.vacuum(table, keep=keep)
                out[table] = len(self.store.versions(table))
        return out

    # -- entry point A: onboarding (SURVEY §3.1) ---------------------------

    def onboard_source(
        self,
        source_type: str,
        attrs: dict[str, str],
        tags: dict[str, str] | None = None,
        *,
        enforce_gate: bool = True,
    ) -> bool:
        """Register a discovered source as a tracker row (S8 conditional
        insert). Returns False when the gdpr-scan gate rejects it
        (`lambda/s3-trigger/app.py:217-239`)."""
        tags = tags or {}
        if enforce_gate and tags.get(GATE_TAG[0]) != GATE_TAG[1]:
            return False
        row = {
            "id": _source_id(source_type, attrs),
            "data_source_type": source_type,
            "glue_job_created": False,
            "data_catalog_entry": False,
            "data_source_attrs": attrs,
            "data_catalog_table_name": None,
            "data_catalog_db_name": None,
            "tags": tags,
        }
        batch = self.spark.createDataFrame([row], _TRACKER_SCHEMA)
        self.onboard_batch(batch)
        return True

    def onboard_batch(self, batch: DataFrame) -> None:
        """MERGE a batch of tracker rows; WHEN NOT MATCHED INSERT only —
        replays never clobber state flags."""
        self.store.merge(
            TRACKER,
            batch,
            "id",
            insert_not_matched=True,
            partition_by="data_source_type",
            # safe: the id is derived from the source type (_source_id),
            # so a key can never move between partitions
            prune_partitions=True,
        )

    # -- the six P-queries (SURVEY §2.2) -----------------------------------

    def tracker(self) -> DataFrame:
        return self.store.read(TRACKER)

    def pending_catalog(self, source_type: str) -> DataFrame:
        """P1/P2: not cataloged, not classified."""
        return self.tracker().filter(
            (~F.col("glue_job_created"))
            & (~F.col("data_catalog_entry"))
            & (F.col("data_source_type") == source_type)
        )

    def pending_classify(self, source_type: str) -> DataFrame:
        """P3: cataloged but never classified."""
        return self.tracker().filter(
            (~F.col("glue_job_created"))
            & F.col("data_catalog_entry")
            & (F.col("data_source_type") == source_type)
        )

    def cataloged(self, source_type: str) -> DataFrame:
        """P4: cataloged (tag-report input)."""
        return self.tracker().filter(
            F.col("data_catalog_entry") & (F.col("data_source_type") == source_type)
        )

    def by_source_type(self, source_type: str) -> DataFrame:
        """P5."""
        return self.tracker().filter(F.col("data_source_type") == source_type)

    def findings_for(self, table: str, ts) -> DataFrame:
        """P6: projection + filter on the findings table."""
        return (
            self.store.read(FINDINGS)
            .filter((F.col("data_catalog_table") == table) & (F.col("timestamp") == ts))
            .select("columnName", "entityTypes")
        )

    # -- entry point B: registration + schema inference (SURVEY §3.2) ------

    def register_pending(self, source_type: str = "s3") -> list[str]:
        """Catalog every pending source: read with schema inference, write
        as a managed table, flip ``data_catalog_entry`` (S9). The
        reference needs create_table + a scheduled crawler
        (`lambda/catalog-creator-s3/app.py:148-202`); here inference is
        the reader's own and happens inline."""
        pending = self.pending_catalog(source_type).collect()
        registered: list[str] = []
        flips: list[tuple[str, str, str, str | None]] = []
        # table names already claimed (control-plane rows — bounded):
        # two sources whose path BASENAMES collide must not silently
        # overwrite each other's catalog table
        taken: dict[str, str] = {
            r["data_catalog_table_name"]: r["id"]
            for r in self.tracker()
            .filter(F.col("data_catalog_table_name").isNotNull())
            .select("data_catalog_table_name", "id")
            .collect()
        }
        manifest_updates: list[tuple[str, dict[str, str]]] = []
        for row in pending:
            attrs = dict(row["data_source_attrs"] or {})
            path = attrs.get("path")
            name = attrs.get("name") or (path.rstrip("/").rsplit("/", 1)[-1] if path else row["id"])
            table = sanitize_identifier(f"{source_type}_{name}")
            if taken.get(table, row["id"]) != row["id"]:
                # deterministic disambiguation: suffix with the source's
                # natural-key hash prefix (stable across re-runs)
                table = sanitize_identifier(f"{source_type}_{name}_{row['id'][:8]}")
            taken[table] = row["id"]
            fq = f"{self.database}.{table}"
            # fingerprint/listing BEFORE the read: a file landing
            # mid-read makes the recorded state conservative (next
            # recrawl sees drift)
            listing = _source_listing(attrs)
            fp = _fingerprint_of(listing)
            df = self._read_source(source_type, attrs)
            df.write.mode("overwrite").saveAsTable(fq)
            flips.append((row["id"], table, self.database, fp))
            registered.append(fq)
            if listing is not None:
                manifest_updates.append((row["id"], _listing_sigs(listing)))
        self._record_crawl_manifests(manifest_updates)
        if flips:
            # One flip frame, one MERGE, one tracker version bump per call —
            # not one full-table rewrite per source. The flip carries the
            # partition value so only this source type's partition rewrites.
            flip = self.spark.createDataFrame(
                [(i, t, d, fp, source_type) for i, t, d, fp in flips],
                "id string, t string, d string, fp string, data_source_type string",
            )
            self.store.merge(
                TRACKER,
                flip,
                "id",
                set_on_match={
                    "data_catalog_entry": F.lit(True),
                    "data_catalog_table_name": F.col("src.t"),
                    "data_catalog_db_name": F.col("src.d"),
                    "data_source_attrs": _attrs_with_fingerprint(),
                },
                insert_not_matched=False,
                partition_by="data_source_type",
                prune_partitions=True,
                partition_values=[source_type],
            )
        return registered

    def recrawl(self, source_type: str = "s3", *, reclassify: bool = True) -> list[dict]:
        """Re-run discovery over already-cataloged sources — the
        reference's *scheduled* crawler with ``SchemaChangePolicy:
        UPDATE_IN_DATABASE`` / ``DeleteBehavior: LOG``
        (`lambda/catalog-creator-s3/app.py:196-198`): sources drift daily
        and the catalog must follow without losing curation state.

        Per cataloged source: re-read with schema inference and evolve
        the table in place —

        - columns NEW in the source are added (UPDATE_IN_DATABASE);
        - columns GONE from the source are retained in the schema as
          typed NULLs and reported, never silently dropped
          (DeleteBehavior LOG — the catalog keeps the column and its
          curation metadata; downstream queries keep compiling);
        - a column present in both takes the source's current type
          (type drift is an update, not a delete);
        - existing column COMMENTS — the classification findings
          ``publish_findings`` wrote back — are re-applied after the
          rewrite, so re-crawling never erases published PII markings.

        Returns the drift log: one dict per table with ``added`` /
        ``removed`` / ``retyped`` column lists (empty lists = no drift).
        Idempotent: a re-crawl with no drift rewrites to the same schema
        and re-applies the same comments.

        ``reclassify=True`` (default) flips ``glue_job_created`` back to
        False for every table whose schema OR CONTENT drifted, so the
        next ``classify_pending`` run re-classifies it and the new
        columns/rows get findings — the reference's crawler-update ->
        scheduled classify-job chain. No-drift tables keep their flag
        (no wasted re-classification).

        Incremental (the job-bookmark the reference disabled): each
        source's content fingerprint — the metadata-only file listing
        hash recorded at register time — is compared first; an UNCHANGED
        source is skipped outright (``{"skipped": True}`` in the report,
        ZERO source scans, no table rewrite, no comment churn). Content
        drift WITHOUT schema drift still re-opens classification: new
        rows can carry new PII even when columns are stable. Sources
        with no recordable fingerprint (non-path) always process.

        APPEND-ONLY sources go one better (the common 100 TB shape —
        daily files landing in a prefix): when every previously-recorded
        file is untouched and only NEW files appeared, the managed copy
        appends just those files (``appended_files`` in the report; the
        per-file crawl manifest is the bookmark) — no re-read of old
        data, no table rewrite, comments untouched. The fast path only
        engages when the new files introduce zero schema drift;
        anything else falls back to the full evolve-rewrite below. The
        re-opened classification then also scans only the new files
        (the classify-side file bookmark), so the whole
        recrawl+reclassify cost of a daily drop is O(new data)."""
        rows = self.cataloged(source_type).collect()
        report: list[dict] = []
        fp_updates: list[tuple[str, str | None, bool]] = []
        manifest_updates: list[tuple[str, dict[str, str]]] = []
        for row in rows:
            db, table = row["data_catalog_db_name"], row["data_catalog_table_name"]
            fq = f"{db}.{table}"
            attrs = dict(row["data_source_attrs"] or {})
            listing = _source_listing(attrs)
            cur_fp = _fingerprint_of(listing)
            stored_fp = attrs.get(FINGERPRINT_KEY)
            if cur_fp is not None and stored_fp == cur_fp:
                report.append(
                    {
                        "table": fq,
                        "skipped": True,
                        "added": [],
                        "removed": [],
                        "retyped": [],
                    }
                )
                continue
            content_drift = (
                cur_fp is not None and stored_fp is not None and stored_fp != cur_fp
            )
            old_schema = self.spark.table(fq).schema

            # APPEND-ONLY FAST PATH: when the listing grew but every
            # previously-recorded file is untouched, the managed copy
            # APPENDS only the new files — O(delta), not the O(table)
            # re-read-and-rewrite below. Guarded: the new files must
            # introduce no schema drift (new/retyped columns fall back to
            # the full rewrite, which owns schema evolution). Comments
            # survive trivially (the table is never rewritten).
            if listing is not None:
                cur_sigs = _listing_sigs(listing)
                prior_sigs = self._crawl_manifest_sigs(row["id"])
                new_files = sorted(set(cur_sigs) - set(prior_sigs))
                untouched = prior_sigs and all(
                    cur_sigs.get(f) == s for f, s in prior_sigs.items()
                )
                if untouched and new_files:
                    root = listing[0]
                    delta = self._read_source(
                        source_type, attrs, [os.path.join(root, f) for f in new_files]
                    )
                    old_types = {f.name: f.dataType for f in old_schema.fields}
                    drift = [
                        c
                        for c in delta.columns
                        if c not in old_types or old_types[c] != delta.schema[c].dataType
                    ]
                    if not drift:
                        aligned = delta.select(
                            *[
                                F.col(f.name)
                                if f.name in delta.columns
                                else F.lit(None).cast(f.dataType).alias(f.name)
                                for f in old_schema.fields
                            ]
                        )
                        aligned.write.mode("append").saveAsTable(fq)
                        report.append(
                            {
                                "table": fq,
                                "skipped": False,
                                "added": [],
                                "removed": [],
                                "retyped": [],
                                "appended_files": len(new_files),
                            }
                        )
                        fp_updates.append((row["id"], cur_fp, True))
                        manifest_updates.append((row["id"], cur_sigs))
                        continue

            old_comments = {
                f.name: (f.metadata or {}).get("comment")
                for f in old_schema.fields
            }
            df = self._read_source(source_type, attrs)
            new_types = {f.name: f.dataType for f in df.schema.fields}
            old_names = [f.name for f in old_schema.fields]
            added = [c for c in df.columns if c not in set(old_names)]
            removed = [f.name for f in old_schema.fields if f.name not in new_types]
            retyped = [
                f.name
                for f in old_schema.fields
                if f.name in new_types and new_types[f.name] != f.dataType
            ]
            # evolved schema: every previously-known column first (gone
            # ones as typed NULLs), then the new columns in source order
            cols = [
                F.col(f.name)
                if f.name in new_types
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in old_schema.fields
            ]
            cols += [F.col(c) for c in added]
            df.select(*cols).write.mode("overwrite").saveAsTable(fq)
            comments = {k: v for k, v in old_comments.items() if v}
            if comments:
                self._write_column_comments(db, table, comments)
            report.append(
                {
                    "table": fq,
                    "skipped": False,
                    "added": added,
                    "removed": removed,
                    "retyped": retyped,
                }
            )
            reflag = bool(added or retyped or content_drift)
            # fingerprint-less (non-path) sources with no schema drift
            # would be a pure no-op merge: skip them so a scheduled
            # recrawl doesn't burn a tracker version per run
            if cur_fp is not None or reflag:
                fp_updates.append((row["id"], cur_fp, reflag))
            if listing is not None:
                manifest_updates.append((row["id"], _listing_sigs(listing)))
        self._record_crawl_manifests(manifest_updates)
        if fp_updates:
            flip = self.spark.createDataFrame(
                [(i, fp, reclassify and rf, source_type) for i, fp, rf in fp_updates],
                "id string, fp string, reflag boolean, data_source_type string",
            )
            self.store.merge(
                TRACKER,
                flip,
                "id",
                set_on_match={
                    "glue_job_created": F.when(
                        F.col("src.reflag"), F.lit(False)
                    ).otherwise(F.col("tgt.glue_job_created")),
                    "data_source_attrs": _attrs_with_fingerprint(),
                },
                insert_not_matched=False,
                partition_by="data_source_type",
                prune_partitions=True,
                partition_values=[source_type],
            )
        return report

    def _crawl_manifest_sigs(self, source_id: str) -> dict[str, str]:
        """Prior (file -> sig) crawl manifest for one source (empty when
        never recorded — e.g. sources registered before this bookmark
        existed, which then take the full-rewrite path once). Control-
        plane collect: one row per file of ONE source; at larger scale
        flip to a distributed anti-join, like the classify-side twin."""
        if not self.store.exists(CRAWL_MANIFEST):
            return {}
        return {
            r["file"]: r["sig"]
            for r in self.store.read(CRAWL_MANIFEST)
            .filter(F.col("source_id") == source_id)
            .select("file", "sig")
            .collect()
        }

    def _record_crawl_manifests(self, updates: list[tuple[str, dict[str, str]]]) -> None:
        """Replace the crawl manifest partitions of the given sources in
        ONE store version (partition-pruned; see ``replace_partitions``)."""
        if not updates:
            return
        rows = [
            (sid, f, sig)
            for sid, sigs in updates
            for f, sig in sigs.items()
        ]
        frame = self.spark.createDataFrame(
            rows, "source_id string, file string, sig string"
        ) if rows else self.spark.createDataFrame([], "source_id string, file string, sig string")
        self.store.replace_partitions(
            CRAWL_MANIFEST,
            frame,
            partition_by="source_id",
            values=[sid for sid, _ in updates],
        )

    def _read_source(
        self,
        source_type: str,
        attrs: dict[str, str],
        paths: list[str] | None = None,
        *,
        infer: bool = True,
    ) -> DataFrame:
        """Read a source (schema inference). ``paths`` restricts the read
        to an explicit file list — the delta-read used by file-level
        incremental classification and the append-only recrawl; every
        reader here accepts a list. Explicit-file reads pin ``basePath``
        to the source root so hive-style partition directories
        (``key=value/``) still surface their partition COLUMNS — without
        it a delta read would silently drop them and incremental
        classification would diverge from a full rescan.

        ``infer=False`` (CSV only) skips the type-inference pass — a
        full extra read of every byte — and surfaces header-named string
        columns; callers that conform the frame to a registered schema
        by NAME+cast use it, because they discard the inferred types
        anyway. Callers whose job IS inference (register, drift
        detection) keep the default."""
        path: str | list[str] = paths if paths is not None else attrs["path"]
        base = attrs.get("path") if paths is not None else None
        if base and base.startswith("file:"):
            base = base[len("file:"):]
        fmt = attrs.get("format", "csv" if source_type == "s3" else "json")
        if fmt == "csv":
            return read_csv_source(
                self.spark,
                path,
                multi_line=attrs.get("multiline") == "true",
                base_path=base,
                infer=infer,
            )
        if fmt == "json":
            return read_json_items(self.spark, path, base_path=base)
        if fmt == "parquet":
            reader = self.spark.read
            if base:
                reader = reader.option("basePath", base)
            return reader.parquet(*path) if isinstance(path, list) else reader.parquet(path)
        raise ValueError(f"unsupported source format: {fmt}")

    # -- entry point C: classification + publish (SURVEY §3.3) -------------

    def classify_pending(
        self,
        source_type: str = "s3",
        entities: list[str] | None = None,
        sample_fraction: float = 1.0,
        detection_threshold: float = 0.1,
    ) -> int:
        """Classify every cataloged-but-unclassified source, append
        findings, flip ``glue_job_created``. One Spark session, N tables —
        vs the reference's one cold-started Glue job per table.

        Path-based sources classify INCREMENTALLY at file granularity
        (full scans only, ``sample_fraction == 1.0``): per-(file, column,
        entity) match COUNTS persist in the ``classify_stats`` state
        table, and a re-classification scans ONLY files that are new or
        changed since the last pass — unchanged files' counts carry
        forward, deleted/changed files' counts drop out, and the source's
        classification derives from the SUM over its current files,
        bit-identical to a full rescan (counts are additive; fractions
        are not). This finishes beating the job bookmark the reference
        disabled (`lambda/s3-glue-job-creator/app.py:17`): at 100 TB the
        re-classify unit is the changed-file delta, not the table.
        Non-path sources and sampled passes take the direct whole-table
        path."""
        pending = self.pending_classify(source_type).collect()
        all_findings: DataFrame | None = None
        stats_updates: list[DataFrame] = []
        stats_sources: list[str] = []
        for row in pending:
            fq = f"{row['data_catalog_db_name']}.{row['data_catalog_table_name']}"
            attrs = dict(row["data_source_attrs"] or {})
            listing = _source_listing(attrs) if sample_fraction >= 1.0 else None
            if listing is None:
                classified = classify_columns(
                    self.spark.table(fq),
                    entities,
                    sample_fraction,
                    detection_threshold,
                )
            else:
                classified, stats = self._classify_source_incremental(
                    row["id"], fq, row["data_source_type"], attrs, listing,
                    entities, detection_threshold,
                )
                stats_updates.append(stats)
                stats_sources.append(row["id"])
            findings = build_findings(
                classified,
                data_source_type=source_type,
                data_catalog_table=row["data_catalog_table_name"],
                data_catalog_database=row["data_catalog_db_name"],
            )
            all_findings = (
                findings
                if all_findings is None
                else all_findings.unionByName(findings, allowMissingColumns=True)
            )
        if pending:
            if stats_updates:
                # one stats version for the whole batch: each source's
                # partition is REPLACED (kept + delta counts — replace,
                # not merge, so deleted files' rows actually disappear)
                new_stats = stats_updates[0]
                for extra in stats_updates[1:]:
                    new_stats = new_stats.unionByName(extra)
                self.store.replace_partitions(
                    CLASSIFY_STATS,
                    new_stats,
                    partition_by="source_id",
                    values=stats_sources,
                )
            # One findings append and one tracker MERGE for the whole batch:
            # exactly one version bump on each state table per call.
            self.store.append(FINDINGS, all_findings, partition_by="data_catalog_table")
            flip = self.spark.createDataFrame(
                [(r["id"], source_type) for r in pending], ["id", "data_source_type"]
            )
            self.store.merge(
                TRACKER,
                flip,
                "id",
                set_on_match={"glue_job_created": F.lit(True)},
                insert_not_matched=False,
                partition_by="data_source_type",
                prune_partitions=True,
                partition_values=[source_type],
            )
        return len(pending)

    _STATS_COLS = ("source_id", "file", "sig", "columnName", "entity", "n_matched", "n_values")
    _STATS_SCHEMA = (
        "source_id string, file string, sig string, columnName string, "
        "entity string, n_matched long, n_values long"
    )

    @staticmethod
    def sig_delta(listing_df: DataFrame, prior_stats: DataFrame) -> tuple[DataFrame, DataFrame]:
        """Distributed file-signature diff: ``(kept_stats, delta)`` where
        ``kept_stats`` is the prior stats rows whose (file, sig) is still
        in the current listing (changed and deleted files drop out) and
        ``delta`` is the listing rows with no matching prior signature
        (new or changed files). Pure joins — the prior stats table is
        never materialized on the driver, so a million-file source diffs
        at shuffle scale, not driver-memory scale."""
        kept_stats = prior_stats.join(listing_df, ["file", "sig"], "left_semi")
        delta = listing_df.join(
            prior_stats.select("file", "sig").distinct(), ["file", "sig"], "left_anti"
        )
        return kept_stats, delta

    def _classify_source_incremental(
        self,
        source_id: str,
        fq: str,
        source_type: str,
        attrs: dict[str, str],
        listing: tuple[str, list[tuple[str, int, int]]],
        entities: list[str] | None,
        detection_threshold: float,
    ) -> tuple[DataFrame, DataFrame]:
        """File-level incremental classify of one path source. Returns
        ``(classified, stats)`` where ``stats`` is the source's NEW
        complete per-file count set (kept + delta) destined for a
        partition replace.

        Delta files are read through the normal source reader restricted
        to their paths, CONFORMED to the registered table's schema by
        NAME (missing columns -> typed NULLs, shared columns cast), and
        counted per file via ``input_file_name()`` grouping — one job for
        the whole delta, not one per file. A per-file sentinel row
        (``columnName = ''``) records files that yielded zero values
        (header-only/empty) so they aren't re-read forever."""
        from automated_datastore_discovery_with_aws_glue_spark.operators.classify import (
            classification_from_counts,
            classify_columns_counts,
        )

        from automated_datastore_discovery_with_aws_glue_spark.functions.entities import resolve_entities

        root, entries = listing
        # the entity set is part of each file's signature: counts stored
        # for [EMAIL] can't answer a later [EMAIL, PHONE] pass — a
        # changed detector set must invalidate every file, not silently
        # merge partial counts (threshold changes, by contrast, are
        # derive-time only and reuse counts as-is)
        ehash = hashlib.sha256(
            json.dumps(sorted(s.name for s in resolve_entities(entities))).encode()
        ).hexdigest()[:8]
        listing_df = self.spark.createDataFrame(
            [(rel, f"{size}:{mtime}:{ehash}") for rel, size, mtime in entries],
            "file string, sig string",
        )
        kept_stats: DataFrame | None = None
        if self.store.exists(CLASSIFY_STATS):
            prior = self.store.read(CLASSIFY_STATS).filter(F.col("source_id") == source_id)
            # distributed diff: the prior stats table never collects —
            # only the DELTA (new/changed files) comes to the driver,
            # because the reader needs its explicit path list
            kept_stats, delta_df = self.sig_delta(listing_df, prior)
            delta_rows = delta_df.collect()
        else:
            delta_rows = listing_df.collect()
        sigs = {r["file"]: r["sig"] for r in delta_rows}  # delta-bounded
        delta = sorted(sigs)

        table_schema = self.spark.table(fq).schema
        string_cols = [f.name for f in table_schema.fields if f.dataType.typeName() == "string"]
        parts: list[DataFrame] = []
        if kept_stats is not None:
            parts.append(kept_stats.select(*self._STATS_COLS))
        if delta:
            # infer=False: the conform step below casts every column to
            # the REGISTERED table type by name — running CSV type
            # inference first would read the whole delta an extra time
            # to produce types that cast immediately overwrites
            raw = self._read_source(
                source_type, attrs, [os.path.join(root, f) for f in delta], infer=False
            )
            present = set(raw.columns)
            conformed = raw.select(
                *[
                    F.col(f.name).cast(f.dataType).alias(f.name)
                    if f.name in present
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in table_schema.fields
                ]
            )
            import re as _re

            # input_file_name() -> source-relative path. It returns a
            # percent-encoded URI (space -> %20) while the manifest keys
            # are raw filesystem relpaths, so DECODE before stripping
            # the scheme + root; the +%2B pre-replace keeps literal '+'
            # (which the URI encoder leaves bare but url_decode would
            # otherwise turn into a space). Object-store keys would come
            # pre-relative.
            decoded = F.url_decode(F.regexp_replace(F.input_file_name(), r"\+", "%2B"))
            rel_file = F.regexp_replace(
                decoded, "^.*?" + _re.escape(root.rstrip("/")) + "/", ""
            )
            counts = classify_columns_counts(
                conformed,
                entities,
                columns=string_cols,
                file_col=rel_file,
            )
            sig_rows = [(source_id, f, sigs[f]) for f in delta]
            sig_df = self.spark.createDataFrame(sig_rows, "source_id string, file string, sig string")
            # LEFT join + loud failure: a counts row whose file key fails
            # to match its listing entry means the decode/strip drifted —
            # an inner join would silently drop that file's counts while
            # the sentinel still records its signature, permanently
            # under-reporting the file. localCheckpoint pins the delta
            # scan so validation + both downstream actions run it once.
            joined = counts.join(F.broadcast(sig_df), "file", "left").localCheckpoint()
            bad = [r["file"] for r in joined.filter(F.col("sig").isNull()).select("file").limit(5).collect()]
            if bad:
                raise RuntimeError(
                    f"incremental classify of {source_id}: count rows keyed by "
                    f"unlisted file(s) {bad} — input_file_name() decode/strip "
                    f"diverged from the listing keys; refusing to drop counts"
                )
            parts.append(joined.select(*self._STATS_COLS))
            # zero-value files (header-only, empty) still need their sig
            # recorded or they'd re-read as delta every pass
            sentinels = self.spark.createDataFrame(
                [(sid, f, sig, "", "", 0, 0) for sid, f, sig in sig_rows],
                self._STATS_SCHEMA,
            )
            parts.append(sentinels)
        if parts:
            stats = parts[0]
            for extra in parts[1:]:
                stats = stats.unionByName(extra)
        else:
            stats = self.spark.createDataFrame([], self._STATS_SCHEMA)
        classified = classification_from_counts(
            stats.filter(F.col("columnName").isin(string_cols)),
            entities,
            detection_threshold,
            column_names=string_cols,
        )
        return classified, stats

    def latest_findings(self) -> DataFrame:
        """J1/A1: latest classification per catalog table (window argmax —
        one shuffle, no join; `lambda/pii-report/app.py:244-283`)."""
        from pyspark.sql import Window

        f = self.store.read(FINDINGS)
        return (
            f.withColumn(
                "rn",
                F.dense_rank().over(
                    Window.partitionBy("data_catalog_table").orderBy(F.col("timestamp").desc())
                ),
            )
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    def publish_findings(self) -> int:
        """J2: write detections back as column comments, 255-char
        truncated ('Sensitive Data Element | [...]',
        `lambda/pii-report/app.py:185-198`).

        Optimistic-concurrency guard (the reference checks the catalog
        ``VersionId`` before writing back, `lambda/pii-report/app.py:200-211`):
        the findings snapshot version is pinned before the collect and
        re-checked before any comment is written — a concurrent classify
        run invalidates this publish instead of racing it.

        Comments are written ONE catalog interaction per table, not one
        per column: at thousands of tables a per-column ALTER loop is a
        driver-serial metadata bottleneck."""
        from automated_datastore_discovery_with_aws_glue_spark.state.store import ConcurrentWriteError

        pinned = self.store.latest_version(FINDINGS)
        latest = self.latest_findings().collect()
        if self.store.latest_version(FINDINGS) != pinned:
            raise ConcurrentWriteError(
                f"{FINDINGS}: snapshot moved past v{pinned} during publish; retry"
            )
        by_table: dict[tuple[str, str], dict[str, str]] = {}
        for row in latest:
            comment = f"Sensitive Data Element | {row['entityTypes']}"[:255].replace("'", "")
            key = (row["data_catalog_database"], row["data_catalog_table"])
            by_table.setdefault(key, {})[row["columnName"]] = comment
        n = 0
        for (db, table), comments in by_table.items():
            self._write_column_comments(db, table, comments)
            n += len(comments)
        return n

    def _write_column_comments(
        self, database: str, table: str, comments: dict[str, str]
    ) -> None:
        """Apply all of a table's column comments in one catalog call:
        build the commented schema client-side and alter the table's data
        schema atomically (the session-catalog equivalent of the
        reference's single ``glue.update_table`` per table,
        `lambda/pii-report/app.py:200-211`). V1 tables reject multi-column
        ``ALTER COLUMN`` SQL, hence the catalog-API route; if a catalog
        doesn't expose it, fall back to per-column DDL."""
        fq = f"{database}.{table}"
        fields = []
        for f in self.spark.table(fq).schema.fields:
            md = dict(f.metadata or {})
            if f.name in comments:
                md["comment"] = comments[f.name]
            fields.append(T.StructField(f.name, f.dataType, f.nullable, md))
        try:
            jvm = self.spark._jvm
            jschema = jvm.org.apache.spark.sql.types.StructType.fromJson(
                T.StructType(fields).json()
            )
            ident = jvm.org.apache.spark.sql.catalyst.TableIdentifier(
                table, jvm.scala.Option.apply(database)
            )
            self.spark._jsparkSession.sessionState().catalog().alterTableDataSchema(
                ident, jschema
            )
        except Exception:  # pragma: no cover - non-session catalogs
            for col, comment in comments.items():
                self.spark.sql(
                    f"ALTER TABLE {fq} ALTER COLUMN `{col}` COMMENT '{comment}'"
                )
        self.spark.catalog.refreshTable(fq)

    def column_comments(self, fq_table: str) -> dict[str, str]:
        return {
            f.name: (f.metadata or {}).get("comment", "")
            for f in self.spark.table(fq_table).schema.fields
        }

    # -- tag report (SURVEY §2.3 J3) ---------------------------------------

    def tag_report(self, source_type: str = "s3") -> DataFrame:
        """Project the governance-tag subset per cataloged source into the
        tag-report table (`lambda/s3-tag-report/app.py:191-223`).

        REPLACE semantics on re-run: the reference ``put_item``s the
        row each time, so updated tracker tags and a fresh time_stamp
        must overwrite the existing report row — an insert-only merge
        would freeze the first run's values forever."""
        rows = self.cataloged(source_type)
        report = rows.select(
            F.col("id"),
            F.col("data_catalog_table_name"),
            *[
                F.col("tags").getItem(k).alias(sanitize_identifier(k))
                for k in REQUIRED_TAG_KEYS
            ],
            F.date_format(F.current_timestamp(), "yyyy-MM-dd HH:mm:ss").alias("time_stamp"),
        )
        self._upsert_report(TAG_REPORT, report, ["id", "data_catalog_table_name"])
        return self.store.read(TAG_REPORT)

    def _upsert_report(self, table: str, report: DataFrame, keys: list[str]) -> None:
        """MERGE with put_item semantics: matched rows take every source
        column, unmatched insert."""
        self.store.merge(
            table,
            report,
            keys,
            set_on_match={
                c: F.col(f"src.{c}") for c in report.columns if c not in keys
            },
        )

    # -- RDS tag report: 3-step dereference (SURVEY §2.3 J3 multi-hop) -----

    def rds_tag_report(
        self,
        connections: DataFrame,
        clusters: DataFrame,
        *,
        source_type: str = "rds",
    ) -> DataFrame:
        """The RDS tag report's 3-step dereference as a chained lookup
        join (`lambda/rds-tag-report/app.py:197-212`): tracker row names a
        *connection*; the connection record carries the JDBC URL; the URL's
        endpoint host resolves the *cluster*, which owns the governance
        tags. The reference walks this chain with three API calls per
        source; here it is two equi-joins over the whole batch.

        ``connections``: (connection_name, jdbc_url);
        ``clusters``: (endpoint, tags map<string,string>).
        Both are control-plane inventories — bounded row counts (thousands
        of connections, not data-scale), safe to broadcast by hint.

        Input is the CATALOGED rows (the reference's P4 filter,
        `lambda/rds-tag-report/app.py:12`): an onboarded-but-uncataloged
        source has a NULL data_catalog_table_name, which is half the
        report's merge key — including it would trip the NULL-merge-key
        guard on every scheduled run.
        """
        rows = self.cataloged(source_type).select(
            "id",
            "data_catalog_table_name",
            F.col("data_source_attrs").getItem("connection").alias("connection_name"),
        )
        # jdbc:postgresql://HOST:PORT/db -> HOST (reference parses the URL
        # the same way, `lambda/rds-tag-report/app.py:203-206`)
        endpoint = F.regexp_extract(F.col("jdbc_url"), r"jdbc:[a-z0-9]+://([^:/]+)", 1)
        deref = (
            rows.join(F.broadcast(connections), "connection_name", "left")
            .withColumn("endpoint", endpoint)
            .join(F.broadcast(clusters), "endpoint", "left")
        )
        report = deref.select(
            F.col("id"),
            F.col("data_catalog_table_name"),
            F.col("connection_name"),
            F.col("endpoint"),
            *[
                F.col("tags").getItem(k).alias(sanitize_identifier(k))
                for k in REQUIRED_TAG_KEYS
            ],
            F.date_format(F.current_timestamp(), "yyyy-MM-dd HH:mm:ss").alias("time_stamp"),
        )
        self._upsert_report(RDS_TAG_REPORT, report, ["id", "data_catalog_table_name"])
        return self.store.read(RDS_TAG_REPORT)
