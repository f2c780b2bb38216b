"""Seeded input generation for the benchmark workloads.

Inputs are generated here, in the benchmark's own process, and handed to
the program under test only as parquet files. Every aggregate that sets
how much work a run does is fixed per workload and independent of the
seed: the multiset of conversation lengths, the number of turns of each
payload family, the number of multi-page and truncated turns. The seed
chooses conversation ids (prefixed with the seed), which conversation
gets which length, which turn gets which family, and all payload
contents.

The longest conversations get ids chosen so that they spread evenly
over the checkpoint's hash buckets (``pmod(xxhash64(conv_id), 8)``).
Otherwise the share of rows a resume has to redo would depend on where
a seed happens to hash its few heaviest conversations.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import struct
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

from pdf_extractors_spark.fixtures import payloads

ROLES = ("user", "assistant", "tool")
CHAT_TOOLS = ("chat", "search", "code_interpreter", "browser")
CHECKPOINT_BUCKETS = 8
# turns whose payload is a form page cut to a fifth of its length: the
# form extractor reports these as parse errors, so every workload
# exercises the quarantine path with a fixed, known share
TRUNCATED_EVERY = 128
_EPOCH = datetime(2026, 1, 1, tzinfo=timezone.utc)
_WORDS = (
    "the invoice total delivery date please check extract table page row "
    "column census household person filter engine model year port vessel "
    "order amount balance payment summary report can you show me why how "
    "what when thanks sure here is result error retry again done next"
).split()


@dataclass(frozen=True)
class Shape:
    """Seed-independent size of one workload's input."""

    light_convs: int
    max_turns: int  # cap of the power-law conversation length
    heavy_lengths: tuple[int, ...] = ()  # conversations of fixed, large size
    families: bool = True  # eight payload families, else short chat turns
    multipage_every: int = 0  # every k-th turn joins several pages (0: none)


SHAPES = {
    "extract_mixed": Shape(light_convs=120, max_turns=200, multipage_every=40),
    "conv_assemble": Shape(
        light_convs=240,
        max_turns=40,
        # salting.heavy_hitters flags a key from about 1000 rows on
        heavy_lengths=(2000, 1500, 1200, 1000),
        families=False,
    ),
}


# --------------------------------------------------------------- xxhash64

_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def _merge(acc: int, val: int) -> int:
    return ((acc ^ _round(0, val)) * _P1 + _P4) & _M


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 as Spark's ``xxhash64`` computes it for one string column
    (UTF-8 bytes, seed 42), returned as a signed 64-bit integer."""
    n = len(data)
    i = 0
    if n >= 32:
        v = [
            (seed + _P1 + _P2) & _M,
            (seed + _P2) & _M,
            seed & _M,
            (seed - _P1) & _M,
        ]
        while i + 32 <= n:
            lanes = struct.unpack_from("<4Q", data, i)
            v = [_round(a, b) for a, b in zip(v, lanes)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for a in v:
            h = _merge(h, a)
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        (lane,) = struct.unpack_from("<Q", data, i)
        h = (_rotl(h ^ _round(0, lane), 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        (lane,) = struct.unpack_from("<I", data, i)
        h = (_rotl(h ^ ((lane * _P1) & _M), 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M), 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def key_hash(conv_id: str, turn_idx: int) -> int:
    """Spark's ``xxhash64(conv_id, turn_idx)``: each column is hashed with
    the previous column's hash as its seed; an int hashes as 4 LE bytes."""
    return xxhash64(struct.pack("<i", turn_idx), xxhash64(conv_id.encode()))


def bucket_of(conv_id: str, n_buckets: int = CHECKPOINT_BUCKETS) -> int:
    """Python twin of ``checkpoint.bucket_of`` (``pmod`` of xxhash64)."""
    return xxhash64(conv_id.encode()) % n_buckets


def _balanced_id(base: str, bucket: int) -> str:
    k = 0
    while bucket_of(f"{base}-{k}") != bucket:
        k += 1
    return f"{base}-{k}"


# ------------------------------------------------------------- generation


def power_law_lengths(n: int, max_turns: int, alpha: float = 1.5) -> list[int]:
    """The ``n`` evenly spaced quantiles of the fixtures' power law
    ``P(L >= x) ~ x^-(alpha-1)`` capped at ``max_turns``: the same
    multiset for every seed."""
    out = []
    for i in range(n):
        u = (i + 0.5) / n
        out.append(max(1, min(int(1.0 / (1.0 - u) ** (1.0 / (alpha - 1.0))), max_turns)))
    return out


def _chat_text(rng: random.Random) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(6, 30)))


@dataclass
class Transcripts:
    """Columns of the generated ``transcripts`` table."""

    conv_id: list[str]
    turn_idx: list[int]
    role: list[str]
    text: list[str]
    tool: list[str]

    def __len__(self) -> int:
        return len(self.conv_id)

    def digest(self) -> str:
        h = hashlib.sha256()
        for col in (self.conv_id, self.role, self.text, self.tool):
            h.update("\x1f".join(col).encode("utf-8", "surrogatepass"))
            h.update(b"\x1e")
        h.update(struct.pack(f"<{len(self.turn_idx)}i", *self.turn_idx))
        return h.hexdigest()

    def to_arrow(self):
        import pyarrow as pa

        ts = [_EPOCH + timedelta(seconds=7 * t) for t in self.turn_idx]
        return pa.table(
            {
                "conv_id": pa.array(self.conv_id, pa.string()),
                "turn_idx": pa.array(self.turn_idx, pa.int32()),
                "role": pa.array(self.role, pa.string()),
                "text": pa.array(self.text, pa.string()),
                "tool": pa.array(self.tool, pa.string()),
                "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            }
        )


def generate(workload: str, seed: int, scale: float = 1.0) -> Transcripts:
    """The transcripts of ``workload`` for ``seed``. ``scale`` shrinks
    the light conversations (used for the small canary input)."""
    shape = SHAPES[workload]
    rng = random.Random(f"{workload}:{seed}")
    lengths = power_law_lengths(max(1, int(shape.light_convs * scale)), shape.max_turns)
    rng.shuffle(lengths)
    heavy = [int(x * scale) or 1 for x in shape.heavy_lengths]
    lengths = heavy + lengths

    # the longest conversations snake over the buckets: 0..7, 7..0, ...
    order = sorted(range(len(lengths)), key=lambda i: -lengths[i])
    n_spread = min(len(order), 8 * CHECKPOINT_BUCKETS)
    ids = [f"s{seed}-c{i:06d}" for i in range(len(lengths))]
    for rank, i in enumerate(order[:n_spread]):
        lap, pos = divmod(rank, CHECKPOINT_BUCKETS)
        ids[i] = _balanced_id(ids[i], pos if lap % 2 == 0 else CHECKPOINT_BUCKETS - 1 - pos)

    n_turns = sum(lengths)
    n_truncated = n_turns // TRUNCATED_EVERY
    pool = payloads.FAMILIES if shape.families else CHAT_TOOLS
    kinds = [pool[j % len(pool)] for j in range(n_turns - n_truncated)]
    kinds += [None] * n_truncated  # None marks a truncated form page
    rng.shuffle(kinds)
    pages = [1] * n_turns
    if shape.multipage_every:
        n_multi = n_turns // shape.multipage_every
        # heavy tail: 2..11 pages, the same multiset for every seed
        counts = [2 + int(10 * ((i + 0.5) / n_multi) ** 3) for i in range(n_multi)]
        whole = [j for j, k in enumerate(kinds) if k is not None]
        for j, n_pages in zip(rng.sample(whole, n_multi), counts):
            pages[j] = n_pages

    out = Transcripts([], [], [], [], [])
    j = 0
    for conv_id, n in zip(ids, lengths):
        for t in range(n):
            kind = kinds[j]
            if kind is None:
                tool, text = payloads.payload_for(conv_id, t, "form_page")
                text = text[: len(text) // 5]
            elif not shape.families:
                tool, text = kind, _chat_text(random.Random(f"{conv_id}:{t}"))
            elif pages[j] > 1:
                tool = kind
                text = "\n".join(
                    payloads.payload_for(f"{conv_id}/p{p}", t, kind)[1] for p in range(pages[j])
                )
            else:
                tool, text = payloads.payload_for(conv_id, t, kind)
            out.conv_id.append(conv_id)
            out.turn_idx.append(t)
            out.role.append(ROLES[t % 3])
            out.text.append(text)
            out.tool.append(tool)
            j += 1
    return out


def chat_turns(n: int) -> list[tuple[str, str]]:
    """``n`` short chat turns ``(tool, text)`` for kernel calibration."""
    return [(CHAT_TOOLS[0], _chat_text(random.Random(f"calibration-{i}"))) for i in range(n)]


# ---------------------------------------------------------------- pinning

DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")
CANARY_SEED = 0
CANARY_SCALE = 0.02


class DigestMismatch(Exception):
    pass


def pins_for(seeds) -> dict:
    return {
        "canary": {w: generate(w, CANARY_SEED, CANARY_SCALE).digest() for w in SHAPES},
        "inputs": {f"{w}:{s}": generate(w, s).digest() for w in SHAPES for s in seeds},
    }


def pinned_input(workload: str, seed: int) -> tuple[Transcripts, str]:
    """Generate the input of ``(workload, seed)`` and its digest. Raise
    ``DigestMismatch`` when the small canary input of the workload, or
    the input itself where its seed is pinned, differs from the digest
    recorded in ``digests.json``: a change to the payload fixtures would
    otherwise change the load silently."""
    with open(DIGESTS) as f:
        pins = json.load(f)
    canary = generate(workload, CANARY_SEED, CANARY_SCALE).digest()
    if canary != pins["canary"][workload]:
        raise DigestMismatch(
            f"{workload}: canary input changed ({canary[:12]} != "
            f"{pins['canary'][workload][:12]}); the generated load is no longer "
            f"the pinned one. Re-pin with `PYTHONPATH=. python3 perfbench/inputs.py` only on purpose."
        )
    tr = generate(workload, seed)
    digest = tr.digest()
    want = pins["inputs"].get(f"{workload}:{seed}")
    if want is not None and want != digest:
        raise DigestMismatch(f"{workload} seed {seed}: input digest {digest[:12]} != pinned {want[:12]}")
    return tr, digest


def write_parquet(table, path: str, n_files: int = 8) -> int:
    """Write the Arrow ``table`` as ``n_files`` parquet files of equal row
    counts; return the total bytes written."""
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    total = 0
    for k in range(n_files):
        part = os.path.join(path, f"part-{k:03d}.parquet")
        pq.write_table(table.slice(k * step, step), part)
        total += os.path.getsize(part)
    return total


if __name__ == "__main__":
    # Re-pin the inputs, from the repository root:
    #   PYTHONPATH=. python3 perfbench/inputs.py [N]
    # records the digests of seeds 0..N-1 (default 64) of every workload.
    import sys

    n_seeds = int(sys.argv[1]) if len(sys.argv) > 1 else 64
    with open(DIGESTS, "w") as f:
        json.dump(pins_for(range(n_seeds)), f, indent=1, sort_keys=True)
        f.write("\n")
