"""Seeded input generators for the benchmark workloads.

Every table is a pure function of (workload, seed) and is written once,
untimed, under ``<work>/inputs/<workload>-s<seed>-<generator hash>/``.
The generator hash covers this file and the engine's ``synth`` module,
so a generator change never reuses stale inputs.  Tables are written as
``files_per_slot x nproc`` parquet files so the engine's default scan
splits feed every slot without any conf override on the timed session.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import random
import shutil
from dataclasses import dataclass
from pathlib import Path

# extract_mixed: the ROADMAP ladder's scale (90,686 turns there); a fixed
# turn count keeps pass times comparable across seeds
MIXED_TURNS = 90_000
# extract_short: enough turns that scan, boundary and write carry seconds
SHORT_TURNS = 200_000
# curation_queries: the documents scale of the sf0.1 testdata table
CURATION_DOCS = 5_000

FILES_PER_SLOT = 2

_BASE_TS = dt.datetime(2026, 1, 1)

_CHAT_WORDS = (
    "ok thanks sure yes no maybe later today tomorrow see you soon sounds "
    "good great fine call me back when ready done sent got it will do "
    "please check again how are things here there"
).split()

_DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_DOC_RARE = ["quorum", "lattice", "zephyr", "fjord", "glyph", "kiosk", "nymph"]
_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")


@dataclass(frozen=True)
class Inputs:
    path: str          # parquet directory (extract) or table directory
    rows: int          # input turns or documents
    keys: list[str]    # conversation ids (extract) or [] (curation)


def generator_hash() -> str:
    """Hash of the generator code: this file plus the engine's synth."""
    from medical_ocr_pipeline_spark import synth

    h = hashlib.sha1()
    for f in (__file__, synth.__file__):
        h.update(Path(f).read_bytes())
    return h.hexdigest()[:12]


def _schema(workload: str):
    import pyarrow as pa

    if workload == "curation_queries":
        return pa.schema([
            ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
            ("source", pa.string()), ("n_chars", pa.int64()),
        ])
    return pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()),
        ("role", pa.string()), ("text", pa.string()),
        ("tool", pa.string()), ("ts", pa.timestamp("us")),
    ])


def _mixed_rows(seed: int) -> list[tuple]:
    """The engine's synth world (four payload variants, power-law sizes,
    ~1% megaconversations); the seed picks the conv_id range."""
    from medical_ocr_pipeline_spark.synth import conv_len, make_turn

    k = random.Random(seed).randrange(0, 900_000)
    rows: list[tuple] = []
    while len(rows) < MIXED_TURNS:
        cid = f"conv_{k:06d}"
        n = min(conv_len(cid), MIXED_TURNS - len(rows))
        rows.extend(make_turn(cid, t) for t in range(n))
        k += 1
    return rows


def _short_rows(seed: int) -> list[tuple]:
    """Chat-shaped turns: one or two short plain lines of a few words,
    many turns per conversation."""
    rng = random.Random(seed)
    rows: list[tuple] = []
    c = 0
    while len(rows) < SHORT_TURNS:
        cid = f"chat_{seed:04d}_{c:06d}"
        n = min(40 + rng.randrange(160), SHORT_TURNS - len(rows))
        t0 = _BASE_TS + dt.timedelta(seconds=rng.randrange(86_400))
        for t in range(n):
            lines = [
                " ".join(rng.choice(_CHAT_WORDS) for _ in range(2 + rng.randrange(5)))
                for _ in range(1 + rng.randrange(2))
            ]
            rows.append((cid, t, ("user", "assistant")[t % 2], "\n".join(lines),
                         None, t0 + dt.timedelta(seconds=7 * t)))
        c += 1
    return rows


def _doc_rows(seed: int) -> list[tuple]:
    """Documents table shaped like the sf0.1 testdata: 8-100 words from
    a small vocabulary, a few rare words (so the OOV and head-coverage
    queries see a tail), skewed languages, 20 sources, and ~5%
    near-duplicates of earlier documents (so the dedup queries find
    pairs)."""
    rng = random.Random(seed)
    rows: list[tuple] = []
    for d in range(CURATION_DOCS):
        if rows and rng.random() < 0.05:
            words = rng.choice(rows)[1].split()
            i = rng.randrange(len(words))
            words[i] = rng.choice(_DOC_WORDS)
            words.append("dup")
        else:
            words = [
                rng.choice(_DOC_RARE) if rng.random() < 0.01 else rng.choice(_DOC_WORDS)
                for _ in range(8 + rng.randrange(93))
            ]
        text = " ".join(words)
        rows.append((d, text, rng.choice(_LANGS), f"src{d % 20}", len(text)))
    return rows


_GENERATORS = {
    "extract_mixed": _mixed_rows,
    "extract_short": _short_rows,
    "curation_queries": _doc_rows,
}


def _write_parquet(rows: list[tuple], schema, out: Path, n_files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    out.mkdir(parents=True)
    cols = list(zip(*rows))
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema
    )
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), out / f"part-{i:05d}.parquet")


def make_inputs(workload: str, seed: int, work: Path, nproc: int) -> Inputs:
    """Generate (or reuse) the workload's input table for this seed.
    Extract workloads get a transcripts table at ``data/``; the curation
    workload gets a query data directory holding ``documents.parquet``,
    the layout the registry queries load."""
    import pyarrow.parquet as pq

    root = work / "inputs" / f"{workload}-s{seed}-{generator_hash()}"
    data = root / "data"
    table = data / "documents.parquet" if workload == "curation_queries" else data
    if not (root / "_SUCCESS").exists():
        shutil.rmtree(root, ignore_errors=True)
        rows = _GENERATORS[workload](seed)
        # row order in a table is arbitrary: shuffle so every file holds
        # a slice of every conversation size, as synth.iter_turns does
        random.Random(seed).shuffle(rows)
        _write_parquet(rows, _schema(workload), table, FILES_PER_SLOT * nproc)
        (root / "_SUCCESS").touch()
    if workload == "curation_queries":
        return Inputs(path=str(data), rows=CURATION_DOCS, keys=[])
    ids = pq.read_table(table, columns=["conv_id"]).column("conv_id").to_pylist()
    return Inputs(path=str(table), rows=len(ids), keys=sorted(set(ids)))


def sample(items: list, k: int, seed: int, salt: str) -> list:
    """Seeded sample, independent of the generator's random stream."""
    rng = random.Random(f"{seed}:{salt}")
    return sorted(rng.sample(items, min(k, len(items))))


def read_text_sample(path: str, k: int, seed: int) -> list[str]:
    """Seeded uniform sample of the workload's turn payloads."""
    import pyarrow.parquet as pq

    texts = pq.read_table(path, columns=["text"]).column("text").to_pylist()
    rng = random.Random(f"{seed}:payloads")
    return [texts[i] for i in sorted(rng.sample(range(len(texts)), min(k, len(texts))))]
