"""Seeded input generator with planted truth.

Every input the engine sees is a pure function of the ``--seed`` the
benchmark was started with. The engine never sees the seed: it receives
CSV files on disk or DataFrames built from local rows. Alongside each
input the generator records what was planted in it:

- which CSV column carries which entity (``SourceSpec.planted``);
- which document ids are planted near-duplicates or exact replays
  (``DedupCorpus``);
- which cluster every vector was drawn around (``VectorCorpus``).

Identity-like columns come from the engine's own seeded generators
(``operators/generate.py``: individuals and network-info rows); the
formatted SSN, e-mail, card and phone columns are produced here.
"""

from __future__ import annotations

import csv
import os
import random
import re
from dataclasses import dataclass, field

import numpy as np

# -- CSV sources with planted PII ---------------------------------------

#: string column kinds -> (candidate header names, planted entity or None).
#: Names are drawn per source; kinds with a hint-less alternative show the
#: context gate at work (the same phone-shaped values are PHONE_NUMBER
#: under ``phone`` and gated out under ``ref_code``).
KINDS = {
    "ssn": (("ssn", "social_security", "tax_ident"), "USA_SSN"),
    "email": (("email", "contact_email", "owner"), "EMAIL"),
    "phone": (("phone", "mobile", "contact_phone"), "PHONE_NUMBER"),
    "phone_unhinted": (("ref_code", "batch_ref"), None),
    "card": (("card_number", "payment_pan", "token"), "CREDIT_CARD"),
    "ipv4": (("ip", "client_addr", "origin"), "IP_ADDRESS"),
    "mac": (("mac", "device_mac"), "MAC_ADDRESS"),
    "city": (("city", "location"), None),
    "gender": (("gender",), None),
    "note": (("note", "remark"), None),
}

DELTA_KINDS = ("ssn", "email", "phone", "phone_unhinted", "card", "ipv4", "city", "note")

_WORDS = (
    "alpha bravo delta echo golf hotel india kilo lima mike oscar papa "
    "quebec romeo sierra tango victor whiskey yankee zulu amber cobalt "
    "ember frost harbor island jungle meadow orchard prairie river "
    "summit timber valley willow"
).split()
_DOMAINS = ("example.com", "mail.test", "corp.example.org", "inbox.test")


def _luhn_digit(body: str) -> str:
    total = 0
    for i, ch in enumerate(reversed(body)):
        d = int(ch)
        if i % 2 == 0:
            d *= 2
            if d > 9:
                d -= 9
        total += d
    return str((10 - total % 10) % 10)


def _value(kind: str, rng: random.Random, ident: dict) -> str:
    if kind == "ssn":
        return f"{rng.randint(100, 665):03d}-{rng.randint(10, 99):02d}-{rng.randint(1000, 9999):04d}"
    if kind == "email":
        return f"{rng.choice(_WORDS)}.{rng.choice(_WORDS)}{rng.randint(1, 9999)}@{rng.choice(_DOMAINS)}"
    if kind in ("phone", "phone_unhinted"):
        return f"{rng.randint(201, 989)}-{rng.randint(200, 999)}-{rng.randint(0, 9999):04d}"
    if kind == "card":
        body = "4" + "".join(str(rng.randint(0, 9)) for _ in range(14))
        digits = body + _luhn_digit(body)
        return " ".join(digits[i : i + 4] for i in range(0, 16, 4))
    if kind == "ipv4":
        return ident["ipv4_public"]
    if kind == "mac":
        return ident["mac_address"]
    if kind == "city":
        return ident["individual_location"]
    if kind == "gender":
        return ident["individual_gender"]
    if kind == "note":
        return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(3, 7)))
    raise ValueError(kind)


@dataclass
class SourceSpec:
    """One CSV source: header, planted entity per string column, and the
    per-file row counts the benchmark uses to count classified cells."""

    name: str
    columns: list[str]  # string columns, in file order after row_id
    kinds: dict[str, str]  # column -> kind
    planted: dict[str, str]  # column -> entity planted in it
    files: dict[str, int] = field(default_factory=dict)  # relpath -> rows

    def header(self) -> list[str]:
        return ["row_id", *self.columns, "amount"]


def identity_rows(spark, n: int, seed: int) -> list[dict]:
    """``n`` individuals + network-info rows from the engine's seeded
    generators, zipped into one dict per row."""
    from automated_datastore_discovery_with_aws_glue_spark.operators.generate import (
        individuals,
        network_info,
    )

    ind = individuals(spark, n, seed).collect()
    net = network_info(spark, n, seed).collect()
    return [{**a.asDict(), **b.asDict()} for a, b in zip(ind, net)]


def source_spec(name: str, kinds: tuple[str, ...], rng: random.Random) -> SourceSpec:
    columns, kind_of, planted = [], {}, {}
    for kind in kinds:
        names, entity = KINDS[kind]
        col = rng.choice(names)
        columns.append(col)
        kind_of[col] = kind
        if entity:
            planted[col] = entity
    return SourceSpec(name, columns, kind_of, planted)


def write_csv(
    path: str,
    spec: SourceSpec,
    rows: int,
    rng: random.Random,
    idents: list[dict],
    *,
    start_id: int = 0,
) -> None:
    """Write ``rows`` rows of ``spec`` to ``path`` and record the file."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(spec.header())
        for i in range(rows):
            ident = idents[(start_id + i) % len(idents)]
            w.writerow(
                [
                    start_id + i,
                    *[_value(spec.kinds[c], rng, ident) for c in spec.columns],
                    f"{rng.uniform(1, 5000):.2f}",
                ]
            )
    spec.files[os.path.basename(path)] = rows


# -- classification truth -------------------------------------------------


def expected_findings(
    columns: dict[str, list[str]],
    entities: list[str] | None,
    threshold: float,
) -> dict[str, tuple[str, ...]]:
    """What the entity registry declares for the planted values: an
    independent Python evaluation of every spec's anchored regex, the
    4-decimal match fraction, the detection threshold and the
    column-name context gate. ``columns`` maps column -> all its values.
    Returns column -> sorted entity tuple, omitting columns with none."""
    from automated_datastore_discovery_with_aws_glue_spark.functions.entities import (
        resolve_entities,
    )

    specs = resolve_entities(entities)
    out: dict[str, tuple[str, ...]] = {}
    for col, raw in columns.items():
        values = [v.strip(" ") for v in raw if v is not None and v.strip(" ")]
        if not values:
            continue
        sample = values[:: max(1, len(values) // 256)]
        found = []
        for s in specs:
            rx = re.compile(s.anchored)
            if not any(rx.search(v) for v in sample):
                continue  # a >=10% spec misses 256 samples with p < 1e-11
            frac = round(sum(1 for v in values if rx.search(v)) / len(values), 4)
            if frac < threshold:
                continue
            if s.approximate:
                hinted = any(h in col.lower() for h in s.context)
                exact_ok = False
                if s.exact_pattern:
                    ex = re.compile(s.anchored_exact)
                    exact_ok = round(sum(1 for v in values if ex.search(v)) / len(values), 4) >= threshold
                if not (hinted or exact_ok):
                    continue
            found.append(s.name)
        if found:
            out[col] = tuple(sorted(found))
    return out


def read_columns(paths: list[str], columns: list[str]) -> dict[str, list[str]]:
    """Column -> values across CSV files (for the truth evaluation)."""
    out: dict[str, list[str]] = {c: [] for c in columns}
    for p in paths:
        with open(p, newline="") as fh:
            for row in csv.DictReader(fh):
                for c in columns:
                    if c in row:
                        out[c].append(row[c])
    return out


# -- dedup corpus -----------------------------------------------------------


@dataclass
class DedupCorpus:
    """Documents in arrival order with planted structure. Ids increase
    with arrival, so the first copy of a near-duplicate group is its
    canonical and every later copy must drop."""

    bulk: list[tuple[int, str]]
    batches: list[list[tuple[int, str]]]
    near_dups: set[int]  # ids planted as near-duplicates of an earlier doc
    replays: list[set[int]]  # per batch: ids re-delivered (exact replays)
    originals: set[int]  # ids with no earlier near-duplicate


def _doc(rng: random.Random, vocab: list[str]) -> list[str]:
    return [rng.choice(vocab) for _ in range(rng.randint(36, 48))]


def _near_dup(words: list[str], rng: random.Random, vocab: list[str]) -> list[str]:
    """Two word substitutions: shingle Jaccard ~0.75, well above 0.5."""
    out = list(words)
    for _ in range(2):
        out[rng.randrange(len(out))] = rng.choice(vocab)
    return out


def dedup_corpus(
    seed: int,
    *,
    bulk: int,
    batch: int,
    n_batches: int,
    dup_rate: float = 0.05,
    replay_rate: float = 0.03,
) -> DedupCorpus:
    rng = random.Random(f"dedup:{seed}")
    vocab = ["".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(3, 9))) for _ in range(4000)]
    texts: dict[int, list[str]] = {}
    near, originals, replays = set(), set(), []
    next_id = 0

    def fresh(pool: list[int]) -> tuple[int, str]:
        nonlocal next_id
        i = next_id
        next_id += 1
        if pool and rng.random() < dup_rate:
            words = _near_dup(texts[rng.choice(pool)], rng, vocab)
            near.add(i)
        else:
            words = _doc(rng, vocab)
            originals.add(i)
        texts[i] = words
        return i, " ".join(words)

    bulk_docs: list[tuple[int, str]] = []
    for _ in range(bulk):
        bulk_docs.append(fresh([d for d, _ in bulk_docs[-500:] if d in originals]))
    ingested = [d for d, _ in bulk_docs]
    batches = []
    for _ in range(n_batches):
        docs: list[tuple[int, str]] = []
        n_replay = int(batch * replay_rate)
        replays.append(set())
        # replays re-deliver documents the index kept (originals)
        for d in rng.sample([d for d in ingested if d in originals], n_replay):
            docs.append((d, " ".join(texts[d])))
            replays[-1].add(d)
        pool = [d for d in ingested[-2000:] if d in originals]
        for _ in range(batch - n_replay):
            # near-dups of the index AND of earlier docs in this batch
            docs.append(fresh(pool + [d for d, _ in docs[-50:] if d in originals]))
        ingested += [d for d, _ in docs if d not in replays[-1]]
        batches.append(docs)
    return DedupCorpus(bulk_docs, batches, near, replays, originals)


# -- clustered embeddings ---------------------------------------------------


@dataclass
class VectorCorpus:
    centers: np.ndarray  # (clusters, dim), unit rows
    vectors: np.ndarray  # (n, dim) build corpus
    labels: np.ndarray  # cluster of each vector


def clustered(rng: np.random.Generator, centers: np.ndarray, n: int, spread: float = 0.25):
    labels = rng.integers(0, len(centers), n)
    vecs = centers[labels] + spread * rng.standard_normal((n, centers.shape[1])) / np.sqrt(centers.shape[1])
    return np.round(vecs, 6), labels


def vector_corpus(seed: int, *, n: int, dim: int, clusters: int) -> VectorCorpus:
    rng = np.random.default_rng([seed, 7])
    centers = rng.standard_normal((clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs, labels = clustered(rng, centers, n)
    return VectorCorpus(centers, vecs, labels)
