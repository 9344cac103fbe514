"""Seeded mixed-format document generator for the document workloads.

Stands alone: it imports nothing from the program.  Every document is
F-MIX-shaped (an html page, JSON objects one per line, plain-text lines and
an occasional base64 data URI), and every generator call returns, beside the
text, a manifest of what it planted.  The manifest is what the output checks
compare against, so the planting rules below mirror the pipeline's contract:

- one ``<html>…<body>…<p>…</p>…</body></html>`` page yields 3 html records
  (the page, its ``<body>`` and its ``<p>``); each page's text is unique so
  the detector's per-document de-duplication never merges two of them;
- every JSON object is unique within its document, holds no key named like
  an engine column, nests at most one level (flattened as ``outer_inner``),
  and gives each key one fixed JSON type across the whole corpus;
- plain-text lines are longer than 5 characters and hold no braces, tags or
  64-character alphanumeric runs; each base64 line is one media record and
  also one text record (the residual-text step keeps it).

The same seed gives byte-identical documents and manifests; a different
seed changes the content but not the shape (block counts, key sets, sizes).
"""

from __future__ import annotations

import base64
import json
import os
import random
from dataclasses import dataclass, field

WORDS = (
    "alpha beta gamma delta ledger invoice region quarter budget vendor "
    "shipment cluster latency report audit review metric planner storage "
    "network backlog release sprint roadmap capacity forecast margin revenue "
    "pipeline warehouse schema record column partition replica snapshot"
).split()

# Per-key JSON type, fixed for the corpus so schema inference is stable.
_KEY_TYPES = ("int", "float", "str", "bool", "list", "nested")


@dataclass
class Manifest:
    """What a generator call planted: per-type record counts, the union of
    flattened JSON keys, and the input size in bytes."""

    html: int = 0
    json: int = 0
    text: int = 0
    media: int = 0
    keys: set[str] = field(default_factory=set)
    bytes: int = 0

    def add(self, other: "Manifest") -> None:
        self.html += other.html
        self.json += other.json
        self.text += other.text
        self.media += other.media
        self.keys |= other.keys
        self.bytes += other.bytes

    def items_by_type(self) -> dict[str, int]:
        counts = {"html": self.html, "json": self.json, "text": self.text, "media": self.media}
        return {k: v for k, v in counts.items() if v}

    def table_columns(self) -> set[str]:
        """Columns of the normalized output table (artifacts dropped)."""
        return {"type", "source_index", "total_items"} | self.keys

    def schema_fields(self) -> set[str]:
        """Fields of the schema report (computed before the artifact drop)."""
        return {"type", "source_index", "title", "word_count"} | self.keys

    def to_json(self) -> dict:
        return {
            "items_by_type": self.items_by_type(),
            "keys": sorted(self.keys),
            "bytes": self.bytes,
        }


class KeySpace:
    """A seeded vocabulary of JSON keys with fixed types, grouped into key
    sets (record schemas)."""

    def __init__(self, rng: random.Random, n_keys: int, n_sets: int, set_size: tuple[int, int]):
        self.types = {f"k{i:03d}_{rng.choice(WORDS)}": rng.choice(_KEY_TYPES) for i in range(n_keys)}
        names = list(self.types)
        self.sets = [
            sorted(rng.sample(names, rng.randint(*set_size))) for _ in range(n_sets)
        ]

    def flat_keys(self, key_set: list[str]) -> set[str]:
        out = set()
        for k in key_set:
            if self.types[k] == "nested":
                out |= {f"{k}_id", f"{k}_label"}
            else:
                out.add(k)
        return out


def _phrase(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(lo, hi)))


def _value(rng: random.Random, kind: str, serial: int):
    if kind == "int":
        return rng.randint(-10**6, 10**6)
    if kind == "float":
        return rng.randint(0, 10**6) / 100 + 0.005
    if kind == "str":
        return f"{rng.choice(WORDS)}-{serial}"
    if kind == "bool":
        return rng.random() < 0.5
    if kind == "list":
        return [rng.choice(WORDS) for _ in range(rng.randint(1, 3))]
    return {"id": serial, "label": rng.choice(WORDS)}


def _html(rng: random.Random, serial: int) -> str:
    return (
        f"<html><head><title>Page {serial} {_phrase(rng, 1, 3)}</title></head>"
        f"<body><h1>{_phrase(rng, 2, 4)}</h1>"
        f"<p>Item {serial}: {_phrase(rng, 5, 14)}.</p>"
        f'<a href="https://example.test/r/{serial}">{_phrase(rng, 1, 3)}</a></body></html>'
    )


def _b64_line(rng: random.Random, n_bytes: int) -> str:
    raw = bytes(rng.getrandbits(8) for _ in range(n_bytes))
    payload = base64.b64encode(raw).decode("ascii")
    mime = rng.choice(["image/png", "image/jpeg"])
    return f"data:{mime};base64,{payload}"


def make_document(
    shape: random.Random,
    rng: random.Random,
    keyspace: KeySpace,
    n_sets: int,
    scale: int = 1,
    b64_prob: float = 0.1,
) -> tuple[str, Manifest]:
    """One F-MIX-shaped document and its manifest.

    ``shape`` draws how much of each block type the document holds (which
    key sets, how many objects, lines and blobs); ``rng`` draws the content.
    ``n_sets`` caps how many of the key space's record schemas the document
    draws from; ``scale`` multiplies every block count (a large document)."""
    m = Manifest()
    sets = shape.sample(keyspace.sets, min(n_sets, len(keyspace.sets)))
    serial = rng.randrange(10**9)
    blocks: list[list[str]] = []

    for h in range(scale):
        blocks.append([_html(rng, serial + h)])
        m.html += 3
    for j in range(shape.randint(4, 10) * scale):
        key_set = sets[j % len(sets)]  # every set, once there are enough objects
        obj = {"seq": serial + j}  # unique within the document
        obj.update((k, _value(rng, keyspace.types[k], serial + j)) for k in key_set)
        blocks.append([json.dumps(obj, separators=(", ", ": "))])
        m.json += 1
        m.keys |= keyspace.flat_keys(key_set)
    m.keys.add("seq")
    for _ in range(shape.randint(6, 16) * scale):
        blocks.append([_phrase(rng, 3, 12).capitalize() + "."])
        m.text += 1
    for _ in range(scale):
        if shape.random() < b64_prob:
            blocks.append([_b64_line(rng, shape.randint(64, 512))])
            m.media += 1
            m.text += 1
    rng.shuffle(blocks)
    # Short filler lines (5 characters or fewer) never become records.
    lines = [line for b in blocks for line in b + ([rng.choice(["", "ok", "--"])] if rng.random() < 0.2 else [])]
    text = "\n".join(lines) + "\n"
    m.bytes = len(text.encode("utf-8"))
    return text, m


def api_payloads(seed: int, count: int) -> list[tuple[str, Manifest]]:
    """``count`` unique request bodies over at most 4 key sets each; about
    one in eight is ten times larger than the rest.  The key space and the
    shape of the n-th body (its block counts, key sets and size) are the same
    for every seed, so every seed asks the same amount of work; the seed
    draws the content."""
    keyspace = KeySpace(random.Random("api-keys"), n_keys=16, n_sets=4, set_size=(3, 5))
    shape = random.Random("api-shape")
    rng = random.Random(f"api-{seed}")
    return [
        make_document(shape, rng, keyspace, n_sets=4, scale=10 if shape.random() < 0.125 else 1)
        for _ in range(count)
    ]


def write_corpus(seed: int, out_dir: str, n_files: int, n_keys: int, n_sets: int) -> Manifest:
    """A directory of ``n_files`` documents drawing on ``n_sets`` key sets
    over ``n_keys`` keys (the width of the normalized table); returns the
    corpus manifest.  The key space and the files' shapes depend only on the
    sizes, so the table is as wide on every seed; the seed draws the
    content."""
    keyspace = KeySpace(random.Random("batch-keys"), n_keys=n_keys, n_sets=n_sets, set_size=(3, 8))
    shape = random.Random("batch-shape")
    rng = random.Random(f"batch-{seed}")
    os.makedirs(out_dir, exist_ok=True)
    total = Manifest()
    for i in range(n_files):
        text, m = make_document(
            shape, rng, keyspace, n_sets=6, scale=shape.choice([1, 1, 1, 2, 4]), b64_prob=0.3
        )
        with open(os.path.join(out_dir, f"doc_{i:05d}.txt"), "w", encoding="utf-8") as f:
            f.write(text)
        total.add(m)
    return total
