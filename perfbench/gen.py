"""Seeded input generator for the linkage benchmark.

Writes the engine's input tables as Parquet:

* transcripts ``(conv_id, turn_idx, role, text, tool, ts)``, one row per turn;
* hidden keys ``(conv_id, entity_key)``, which only ground-truth construction
  and the benchmark's own checks read.

Keys follow ``ground_truth.validate_keys``: ``EK`` + 10 digits + a weighted
mod-10 check digit (weights 7,3,1,...); a small share of copies carry a
wrong check digit, so key validation has something to reject. Everything is
drawn from ``numpy.random.default_rng(seed)``: the same seed and profile
give byte-identical tables.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TOOLS = ["search", "calculator", "browser", "code_exec", "file_read", "db_query"]
CHECK_WEIGHTS = [7, 3, 1, 7, 3, 1, 7, 3, 1, 7]
TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)
KEY_SCHEMA = pa.schema([("conv_id", pa.string()), ("entity_key", pa.string())])


@dataclass(frozen=True)
class Profile:
    """Input shape of one workload."""

    entities: int
    turns: tuple[int, int]  # inclusive range of turns per conversation
    copies_p: tuple[float, ...]  # P(1 copy), P(2 copies), ...
    word_sub: float  # per-word substitution rate on corrupted copies
    typo: float  # per-word character-edit rate on corrupted copies
    corrupt_opening: bool  # whether the opening turn takes word/typo noise
    drop_turn: float  # chance that a corrupted copy loses one later turn
    shared_open_p: float  # share of entities opening with a shared turn
    shared_openings: int  # size of the shared-opening pool
    open_zipf: float  # Zipf exponent over the shared-opening pool
    bad_key_pct: float = 2.0


def _vocabulary(n: int = 3000) -> list[str]:
    """Fixed pseudo-word vocabulary (independent of the seed)."""
    rng = np.random.default_rng(7)
    cons = list("bcdfghjklmnprstvwz")
    vows = list("aeiou")
    words: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(2, 4))
        words.add(
            "".join(
                cons[int(rng.integers(len(cons)))] + vows[int(rng.integers(len(vows)))]
                for _ in range(k)
            )
        )
    return sorted(words)


VOCAB = _vocabulary()
_WORD_P = 1.0 / (np.arange(len(VOCAB)) + 20.0)
_WORD_P /= _WORD_P.sum()


def check_digit(payload: str) -> int:
    return sum(int(d) * w for d, w in zip(payload, CHECK_WEIGHTS)) % 10


def key_is_valid(key: str) -> bool:
    """Python twin of ``ground_truth.validate_keys`` for generated keys."""
    if len(key) != 13 or not key.startswith("EK") or not key[2:].isdigit():
        return False
    payload = key[2:12]
    if len(set(payload)) == 1:
        return False
    return check_digit(payload) == int(key[12])


class _Draw:
    def __init__(self, rng: np.random.Generator):
        self.rng = rng

    def words(self, lo: int, hi: int) -> list[str]:
        n = int(self.rng.integers(lo, hi + 1))
        return [VOCAB[i] for i in self.rng.choice(len(VOCAB), size=n, p=_WORD_P)]

    def typo(self, w: str) -> str:
        r = self.rng
        i = int(r.integers(len(w)))
        op = int(r.integers(4))
        c = "abcdefghijklmnopqrstuvwxyz"[int(r.integers(26))]
        if op == 0 and len(w) > 1 and i < len(w) - 1:
            return w[:i] + w[i + 1] + w[i] + w[i + 2 :]
        if op == 1 and len(w) > 2:
            return w[:i] + w[i + 1 :]
        if op == 2:
            return w[:i] + c + w[i:]
        return w[:i] + c + w[i + 1 :]

    def corrupt(self, words: list[str], sub: float, typo: float) -> list[str]:
        out = []
        r = self.rng
        for w in words:
            if r.random() < sub:
                w = VOCAB[int(r.integers(len(VOCAB)))]
            elif r.random() < typo:
                w = self.typo(w)
            out.append(w)
        return out

    def surface(self, words: list[str], noise: float) -> str:
        """Case and punctuation noise, which text normalization removes."""
        r = self.rng
        out = []
        for w in words:
            if r.random() < noise:
                w = w.upper()
            if r.random() < noise * 0.7:
                w = w + ","
            out.append(w)
        return " ".join(out)


def _entities(p: Profile, draw: _Draw, n: int) -> list[dict]:
    r = draw.rng
    zipf = 1.0 / np.arange(1, p.shared_openings + 1) ** p.open_zipf
    zipf /= zipf.sum()
    openings = [draw.words(3, 6) for _ in range(p.shared_openings)]
    payloads = set()
    ents = []
    for _ in range(n):
        while True:
            payload = f"{int(r.integers(10**9, 10**10)):010d}"
            if len(set(payload)) > 1 and payload not in payloads:
                payloads.add(payload)
                break
        n_turns = int(r.integers(p.turns[0], p.turns[1] + 1))
        turns = []
        for t in range(n_turns):
            if t == 0:
                role, tool = "user", None
                if r.random() < p.shared_open_p:
                    words = list(openings[int(r.choice(p.shared_openings, p=zipf))])
                else:
                    words = draw.words(4, 9)
            elif t % 2 == 1:
                role, tool = "assistant", None
                if r.random() < 0.2:
                    role, tool = "tool", TOOLS[int(r.integers(len(TOOLS)))]
                words = draw.words(4, 12)
            else:
                role, tool = "user", None
                words = draw.words(4, 12)
            null_text = role == "tool" and r.random() < 0.1
            turns.append((role, tool, None if null_text else words))
        copies = 1 + int(r.choice(len(p.copies_p), p=np.array(p.copies_p) / sum(p.copies_p)))
        ents.append(
            {
                "payload": payload,
                "turns": turns,
                "copies": copies,
                "t0": 1_700_000_000 + int(r.integers(0, 90 * 86400)),
            }
        )
    return ents


def _conversation(p: Profile, draw: _Draw, ent: dict, copy_idx: int) -> tuple[list, str]:
    """Rows of one copy of an entity's conversation, plus its key."""
    r = draw.rng
    corrupted = copy_idx > 0
    turns = ent["turns"]
    if corrupted and len(turns) > 2 and r.random() < p.drop_turn:
        drop = int(r.integers(1, len(turns)))
        turns = turns[:drop] + turns[drop + 1 :]
    rows = []
    ts = ent["t0"] + copy_idx * int(r.integers(3600, 7 * 86400))
    for idx, (role, tool, words) in enumerate(turns):
        if words is None:
            text = None
        else:
            if corrupted and (idx > 0 or p.corrupt_opening):
                words = draw.corrupt(words, p.word_sub, p.typo)
            text = draw.surface(words, 0.06 if corrupted else 0.0)
        rows.append((idx, role, text, tool, ts))
        ts += int(r.integers(5, 90))
    cd = check_digit(ent["payload"])
    if r.random() * 100 < p.bad_key_pct:
        cd = (cd + 1) % 10
    return rows, f"EK{ent['payload']}{cd}"


class Tables:
    """Accumulates generated conversations into Arrow columns."""

    def __init__(self):
        self.t = {k: [] for k in TRANSCRIPT_SCHEMA.names}
        self.k = {k: [] for k in KEY_SCHEMA.names}

    def add(self, conv_id: str, rows: list, key: str) -> None:
        for idx, role, text, tool, ts in rows:
            self.t["conv_id"].append(conv_id)
            self.t["turn_idx"].append(idx)
            self.t["role"].append(role)
            self.t["text"].append(text)
            self.t["tool"].append(tool)
            self.t["ts"].append(ts * 1_000_000)
        self.k["conv_id"].append(conv_id)
        self.k["entity_key"].append(key)

    @property
    def n_turns(self) -> int:
        return len(self.t["conv_id"])

    @property
    def n_convs(self) -> int:
        return len(self.k["conv_id"])

    def write(self, directory: str) -> dict:
        """Write transcripts.parquet and keys.parquet; returns sizes."""
        os.makedirs(directory, exist_ok=True)
        tp = os.path.join(directory, "transcripts.parquet")
        kp = os.path.join(directory, "keys.parquet")
        pq.write_table(pa.table(self.t, schema=TRANSCRIPT_SCHEMA), tp)
        pq.write_table(pa.table(self.k, schema=KEY_SCHEMA), kp)
        with open(tp, "rb") as f:
            digest = hashlib.sha256(f.read()).hexdigest()[:16]
        return {
            "digest": digest,
            "transcripts": tp,
            "keys": kp,
            "turns": self.n_turns,
            "convs": self.n_convs,
            "bytes": os.path.getsize(tp),
        }


def _conv_ids(r: np.random.Generator, n: int) -> list[str]:
    return [f"c{int(i):07d}" for i in r.permutation(n) + 1]


def _tables(p: Profile, draw: _Draw, ids: list[str], convs: list) -> Tables:
    out = Tables()
    for cid, (ent, copy_idx) in zip(ids, convs):
        out.add(cid, *_conversation(p, draw, ent, copy_idx))
    return out


def generate_batch(p: Profile, seed: int) -> Tables:
    """One corpus: every copy of every entity."""
    draw = _Draw(np.random.default_rng(seed))
    convs = [(e, c) for e in _entities(p, draw, p.entities) for c in range(e["copies"])]
    return _tables(p, draw, _conv_ids(draw.rng, len(convs)), convs)


def generate_incremental(
    p: Profile,
    seed: int,
    new_entities: int,
    increments: int,
    late_dup_p: float,
) -> tuple[Tables, list[Tables]]:
    """A base corpus plus a fixed sequence of increments.

    Increments mix new copies of base entities (``late_dup_p`` of base
    entities get one) with every copy of ``new_entities`` unseen entities;
    the pool is shuffled and cut into ``increments`` equal slices."""
    draw = _Draw(np.random.default_rng(seed))
    r = draw.rng
    base_ents = _entities(p, draw, p.entities)
    new_ents = _entities(p, draw, new_entities)
    base_convs = [(e, c) for e in base_ents for c in range(e["copies"])]
    late = [(e, e["copies"]) for e in base_ents if r.random() < late_dup_p]
    late += [(e, c) for e in new_ents for c in range(e["copies"])]
    late = [late[i] for i in r.permutation(len(late))]
    ids = _conv_ids(r, len(base_convs) + len(late))
    base = _tables(p, draw, ids, base_convs)
    rest = ids[len(base_convs) :]
    incs = [
        _tables(p, draw, [rest[i] for i in sl], [late[i] for i in sl])
        for sl in np.array_split(np.arange(len(late)), increments)
    ]
    return base, incs
