"""Seeded input generators for the benchmark workloads.

Everything here is pure Python and depends only on the seed: the same
seed gives byte-identical files and the same expected results. The
engine sees only the files (and the corpus parquet) written from these
values; the expected results stay on the bench side for the output
checks.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import json
import random
from dataclasses import dataclass, field
from decimal import Decimal

#: upsert target tables of ``load_small_upsert``; a file named
#: ``<table>_<nnnnn>`` (no extension) lands in ``<table>`` by the
#: engine's split-suffix naming rule, and its format is sniffed. One
#: table: each seeded table costs set-up a file load in a cold JVM,
#: within a run budget of about a minute
TABLES = ("ledger",)
FORMATS = ("csv", "psv", "json")
COLUMNS = ("id", "name", "amount", "qty", "updated_at")

_NAMES = (
    "amber", "birch", "cedar", "delta", "ember", "fjord", "grove", "harbor",
    "indigo", "juniper", "kestrel", "lumen", "meadow", "nimbus", "onyx",
    "prairie", "quartz", "ridge", "sable", "tundra", "umber", "vale",
    "willow", "yarrow", "zephyr",
)
_EPOCH = _dt.datetime(2024, 1, 1)
_FOUR_PLACES = Decimal("0.0001")


def _row(rng: random.Random, key: int) -> tuple[str, ...]:
    name = f"{rng.choice(_NAMES)} {rng.choice(_NAMES)} {rng.randint(1, 999)}"
    amount = f"{rng.randint(100, 9_999_999) / 100:.2f}"
    qty = str(rng.randint(0, 5000))
    ts = (_EPOCH + _dt.timedelta(seconds=rng.randint(0, 365 * 86400))).strftime(
        "%Y-%m-%d %H:%M:%S"
    )
    return (str(key), name, amount, qty, ts)


def canonical(row: tuple) -> str:
    """One table row as the order-independent checks compare it: typed
    values rendered the way both the generator and the warehouse agree
    on (INT -> int, DECIMAL(18,4) -> 4 places, DATETIME2 -> seconds)."""
    key, name, amount, qty, ts = row
    if isinstance(ts, _dt.datetime):
        ts = ts.strftime("%Y-%m-%d %H:%M:%S")
    amount = str(Decimal(str(amount)).quantize(_FOUR_PLACES))
    return f"{int(key)}|{name}|{amount}|{int(qty)}|{ts}"


def row_hash(line: str) -> int:
    """First 64 bits of the row's sha256: the per-row term of the
    order-independent table digest (the Spark side computes the same
    term with ``sha2`` + ``conv``)."""
    return int(hashlib.sha256(line.encode()).hexdigest()[:16], 16)


def state_digest(rows) -> tuple[int, int]:
    """(row count, sum of row hashes): an order-independent digest of a
    table's contents."""
    n = total = 0
    for r in rows:
        n += 1
        total += row_hash(canonical(tuple(r)))
    return n, total


def render(fmt: str, rows: list[tuple[str, ...]]) -> str:
    if fmt == "json":
        return json.dumps([dict(zip(COLUMNS, r)) for r in rows], indent=0)
    sep = "," if fmt == "csv" else "|"
    return "\n".join(sep.join(r) for r in [COLUMNS, *rows]) + "\n"


@dataclass
class LoadFile:
    """One generated input file and the statistics row the loader must
    record for it."""

    name: str
    table: str
    text: str
    rows_read: int
    rows_inserted: int
    rows_updated: int
    rows_failed: int


@dataclass
class UpsertScenario:
    """``load_small_upsert`` inputs: one seed file per table (the full
    key space, loaded during set-up) and an endless, seeded stream of
    upsert files drawn from the same key spaces, with the expected
    last-wins state maintained as the stream is consumed."""

    seed: int
    keys_per_table: int
    #: rows per file across one batch; the file at the second-to-last
    #: position of every batch carries invalid rows
    sizes: tuple[int, ...]
    state: dict[str, dict[int, tuple[str, ...]]] = field(default_factory=dict)
    _n: int = 0

    def __post_init__(self) -> None:
        self._rng = random.Random(self.seed)

    def seed_files(self) -> list[LoadFile]:
        out = []
        for table in TABLES:
            rows = [_row(self._rng, k) for k in range(1, self.keys_per_table + 1)]
            self.state[table] = {int(r[0]): r for r in rows}
            out.append(
                LoadFile(
                    name=f"{table}_000", table=table,
                    text=render("csv", rows), rows_read=len(rows),
                    rows_inserted=len(rows), rows_updated=0, rows_failed=0,
                )
            )
        return out

    def next_file(self) -> LoadFile:
        """The next file of the stream. Position in the stream fixes the
        table, the format, the size and whether it carries invalid rows,
        so every batch of ``len(sizes)`` files does the same work for
        every seed; the seed picks keys and values."""
        i = self._n
        self._n += 1
        rng = self._rng
        table = TABLES[i % len(TABLES)]
        fmt = FORMATS[(i // len(TABLES) + i) % len(FORMATS)]
        n = self.sizes[i % len(self.sizes)]
        n_dup = max(1, n // 20)
        keys = rng.sample(range(1, self.keys_per_table + 1), n - n_dup)
        keys += [rng.choice(keys) for _ in range(n_dup)]
        rng.shuffle(keys)
        rows = [_row(rng, k) for k in keys]
        n_bad = 3 if i % len(self.sizes) == len(self.sizes) - 2 else 0
        bad = set(rng.sample(range(n), n_bad))
        for j in bad:
            rows[j] = rows[j][:3] + (f"x{rows[j][3]}",) + rows[j][4:]
        # last-wins over the VALID rows: the loader drops invalid rows
        # before the duplicate-key resolution
        latest: dict[int, tuple[str, ...]] = {}
        for j, r in enumerate(rows):
            if j not in bad:
                latest[int(r[0])] = r
        target = self.state[table]
        updated = sum(1 for k in latest if k in target)
        target.update(latest)
        return LoadFile(
            name=f"{table}_{i:05d}", table=table, text=render(fmt, rows),
            rows_read=n, rows_inserted=len(latest) - updated,
            rows_updated=updated, rows_failed=n_bad,
        )

    def fresh_file(self, k: int) -> LoadFile:
        """A CSV file for table ``fresh<k>``, which does not exist yet, so
        the loader takes its insert path: schema inference and a first
        write. In-file duplicate keys, but no invalid rows: with no
        target schema, a bad value would change the inferred column type
        rather than fail a row. Drawn from its own random stream, so the
        upsert stream is the same with or without fresh files."""
        rng = random.Random(f"{self.seed}/fresh/{k}")
        table = f"fresh{k}"
        n = self.sizes[len(self.sizes) // 2]
        keys = list(range(1, n + 1))
        keys += [rng.choice(keys) for _ in range(max(1, n // 20))]
        rng.shuffle(keys)
        rows = [_row(rng, key) for key in keys]
        latest = {int(r[0]): r for r in rows}
        self.state[table] = latest
        return LoadFile(
            name=f"{table}_000", table=table, text=render("csv", rows),
            rows_read=len(rows), rows_inserted=len(latest), rows_updated=0,
            rows_failed=0,
        )


def _vocabulary(n: int = 2000) -> tuple[str, ...]:
    """A fixed pseudo-word vocabulary, large enough that unrelated
    documents rarely share a word 5-gram: only the injected copies form
    near-duplicate clusters."""
    rng = random.Random(0)
    syll = [c + v for c in "bcdfgklmnprstvz" for v in "aeiou"]
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(syll) for _ in range(rng.randint(2, 3))))
    return tuple(sorted(words))


_VOCAB = _vocabulary()
_EN_FUNCTION = ("the", "and", "of", "to", "in", "a", "is", "for", "on", "with")
_DE_FUNCTION = ("der", "die", "und", "das", "ein")


def corpus(seed: int, n_docs: int, dup_share: float = 0.2) -> list[tuple]:
    """Synthetic pretraining corpus ``(doc_id, text, lang, source,
    n_chars)``. Most documents read as English to the language-ID gate,
    some are German or too short and fail quality, and ``dup_share`` of
    them are near-copies (a few words swapped) of earlier documents so
    MinHash/LSH and the component pass have real clusters to resolve."""
    rng = random.Random(seed)
    docs: list[tuple] = []
    originals: list[list[str]] = []
    for doc_id in range(n_docs):
        if originals and rng.random() < dup_share:
            words = list(rng.choice(originals))
            for _ in range(rng.randint(1, 3)):
                words[rng.randrange(len(words))] = rng.choice(_VOCAB)
        else:
            roll = rng.random()
            n = rng.randint(6, 12) if roll < 0.1 else rng.randint(40, 160)
            fillers = _DE_FUNCTION if roll > 0.9 else _EN_FUNCTION
            words = [
                rng.choice(fillers) if rng.random() < 0.3 else rng.choice(_VOCAB)
                for _ in range(n)
            ]
            originals.append(words)
        text = " ".join(words)
        lang = "de" if words and words[0] in _DE_FUNCTION else "en"
        docs.append((doc_id, text, lang, f"src{doc_id % 7}", len(text)))
    return docs
