"""Seeded pages generator for the ER benchmark.

Pages follow the entity scheme of `entity_resolution_pipeline_spark.synth`
(5 records per entity, name/date/title variants, name-twin hard negatives),
rendered through its public `page_for_index`.  The seed picks which entities
are planted and the row order; the url tail (the program's record_id) is an
opaque hash, so the program cannot read the entity from the input.  Ground
truth (record_id -> entity) stays in the benchmark process.

Workload shapes:

* ``dense``  -- synth's 400-name pool: every name is shared by
  n_records / 2000 entities, so exact-name blocks hold tens of records.
* ``sparse`` -- the name pool grows with the entity count: each entity's
  surname gets a seeded pseudo-word suffix, so most blocks hold one entity.
"""

from __future__ import annotations

import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from entity_resolution_pipeline_spark import synth

RECORDS_PER_ENTITY = 5
# synth names entity idx by (idx % 20, idx // 20 % 20): a block of 400
# consecutive entities covers the whole name pool once
NAME_POOL = len(synth.SURNAMES) * len(synth.GIVEN)

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)

_SYLLABLES = ("bra", "dor", "fen", "gal", "hin", "kel", "mar", "nov", "pil",
              "ros", "sar", "tev", "ulm", "vor", "wen", "zil")


def _suffix(seed: int, entity: int) -> str:
    rng = random.Random(seed * 1_000_003 + entity)
    return "".join(rng.choice(_SYLLABLES) for _ in range(3))


def generate(seed: int, n_records: int, shape: str) -> tuple[pa.Table, dict[str, int]]:
    """Pages table (program input) and record_id -> entity map (ground truth).

    Deterministic in (seed, n_records, shape)."""
    if shape not in ("dense", "sparse"):
        raise ValueError(f"unknown shape {shape!r}")
    n_entities = n_records // RECORDS_PER_ENTITY
    # whole name-pool periods, so every seed plants the same name histogram;
    # entities past synth's training fixture (the first NAME_POOL * 8)
    base = (seed % 10_000 + 1) * NAME_POOL * 8
    rows = []
    truth: dict[str, int] = {}
    for e in range(n_entities):
        entity = base + e
        surname = synth.SURNAMES[entity % len(synth.SURNAMES)]
        renamed = surname + _suffix(seed, entity) if shape == "sparse" else None
        for v in range(RECORDS_PER_ENTITY):
            page = synth.page_for_index(entity * RECORDS_PER_ENTITY + v, RECORDS_PER_ENTITY)
            text, html = page["text"], page["html"]
            if renamed:
                text = text.replace(surname, renamed)
                html = html.decode("utf-8").replace(surname, renamed).encode("utf-8")
            rid = hashlib.sha1(f"{seed}/{entity}/{v}".encode()).hexdigest()[:20]
            truth[rid] = entity
            rows.append((f"https://catalog.example.org/rec/{rid}", page["warc_ts"], html,
                         text, page["lang"]))
    random.Random(seed).shuffle(rows)
    cols = list(zip(*rows))
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, PAGES_SCHEMA)], schema=PAGES_SCHEMA
    )
    return table, truth


def write_files(table: pa.Table, out_dir: str, n_files: int = 1) -> list[str]:
    """Split `table` row-wise into `n_files` parquet files under `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // n_files)
    paths = []
    for k in range(n_files):
        path = os.path.join(out_dir, f"part-{k:03d}.parquet")
        pq.write_table(table.slice(k * step, step), path)
        paths.append(path)
    return paths


def truth_pairs(truth: dict[str, int]) -> set[tuple[str, str]]:
    """All within-entity record pairs, canonicalized (left < right)."""
    by_entity: dict[int, list[str]] = {}
    for rid, ent in truth.items():
        by_entity.setdefault(ent, []).append(rid)
    pairs = set()
    for ids in by_entity.values():
        ids.sort()
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                pairs.add((a, b))
    return pairs
