"""Seeded benchmark inputs.

Everything a workload reads is generated here from ``--seed`` before any
timing starts, into the run's own directory:

- table fixtures: a committed base fixture (``perfbench/data/sf*``) with
  every fact key shifted by a seeded offset. Orders and lineitem shift
  together, so they still join, and dimension tables are copied as they
  are. These are the columns the repo's x4 differential tool shifts;
- a clip tree for the media pipeline: nested actor directories of fake
  video files whose frame counts and payload bytes are drawn from the seed.

The same seed writes byte-identical files; a different seed shifts every
fact key and redraws every clip.
"""

from __future__ import annotations

import hashlib
import os
import random

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data")

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# fact table -> key columns shifted. Foreign keys into the dimension
# tables are never shifted, so every join still finds its row.
SHIFT = {
    "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey",),
    "events": ("event_id",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}
# Base keys stay below 1e6, so shifted keys stay below 1e7: far inside the
# range where rounded aggregates over keys are exact on both engines.
SEED_OFFSET_RANGE = (1_000_000, 9_000_000)


def _rng(seed: int, salt: str) -> random.Random:
    return random.Random(f"perfbench:{salt}:{seed}")


def key_offset(seed: int) -> int:
    return _rng(seed, "keys").randrange(*SEED_OFFSET_RANGE)


def shifted_tables(base: str, out_dir: str, seed: int) -> None:
    """Write base fixture ``base`` (e.g. ``sf0.01``) to
    ``out_dir/<table>.parquet`` with its fact keys shifted by the seed's
    offset."""
    offset = key_offset(seed)
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        table = pq.read_table(os.path.join(DATA_DIR, base, f"{name}.parquet"))
        for col in SHIFT.get(name, ()):
            field = table.schema.field(col)
            shifted = pc.add(table.column(col), pa.scalar(offset, field.type))
            table = table.set_column(table.schema.get_field_index(col), field, shifted)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def clip_tree(
    root: str,
    seed: int,
    n_clips: int,
    total_frames: int,
    frame_bytes: int,
    min_frames: int = 4,
) -> dict[str, int]:
    """Write ``n_clips`` fake videos under nested actor directories and
    return ``{clip_name: n_frames}`` with clip names derived the way the
    media source derives them (relative path, suffix dropped, '/' -> '_').

    The seed splits a fixed ``total_frames`` across the clips, so every
    seed does the same amount of frame work in different clip shapes. The
    fake codec reads one frame per ``frame_bytes`` bytes; each file also
    carries a seeded tail shorter than one frame, which must not become a
    frame."""
    rng = _rng(seed, "clips")
    counts = [min_frames] * n_clips
    for _ in range(total_frames - min_frames * n_clips):
        counts[rng.randrange(n_clips)] += 1
    expected = {}
    for i, n_frames in enumerate(counts):
        emotion = rng.choice(("neutral", "happy", "angry", "sad"))
        rel = f"actor{i % 4:02d}/{emotion}/level_{i % 3}/clip{i:03d}.mp4"
        payload = rng.randbytes(n_frames * frame_bytes + rng.randrange(frame_bytes))
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(payload)
        expected[rel[: -len(".mp4")].replace("/", "_")] = n_frames
    return expected


def tree_digest(root: str) -> str:
    """sha256 over every file's relative path and bytes under ``root``."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for fn in sorted(filenames):
            p = os.path.join(dirpath, fn)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
