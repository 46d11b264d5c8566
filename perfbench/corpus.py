"""The seeded document corpus every workload shares, and the outputs the
stage chain must produce for it.

Expectations are computed here in plain Python from the generator's own
word lists (the canonical text is known before any noise is added), so
they do not reuse the stage code they check.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np

FLAG_OK, FLAG_SOFT, FLAG_FLAKY = 0, 1, 2
#: rows per parquet file; the stream drains one file per micro-batch
FILE_ROWS = 5000
_VOCAB = 2000
_MIN_WORDS, _MAX_WORDS = 5, 400
_MASK64 = (1 << 64) - 1


@dataclass
class Corpus:
    doc_id: list[int]
    text: list[str]  # raw text: mixed case, irregular whitespace
    flag: list[int]
    norm: list[str]  # what the normalize stage must produce
    dup_of: list[int]  # planted exact duplicate of this doc_id, else -1

    @property
    def n(self) -> int:
        return len(self.doc_id)

    def counts(self) -> dict[str, int]:
        return {
            "docs": self.n,
            "soft": sum(f == FLAG_SOFT for f in self.flag),
            "flaky": sum(f == FLAG_FLAKY for f in self.flag),
            "duplicates": sum(d >= 0 for d in self.dup_of),
        }

    def write_parquet(self, directory: str, file_rows: int = FILE_ROWS) -> list[str]:
        """Write equal files in doc_id order. Modification times rise with
        the file index, so a file stream reads them in that order."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(directory, exist_ok=True)
        paths = []
        base = 1_600_000_000
        for k, lo in enumerate(range(0, self.n, file_rows)):
            hi = min(lo + file_rows, self.n)
            table = pa.table(
                {
                    "doc_id": pa.array(self.doc_id[lo:hi], pa.int64()),
                    "text": pa.array(self.text[lo:hi], pa.string()),
                    "flag": pa.array(self.flag[lo:hi], pa.int32()),
                }
            )
            path = os.path.join(directory, f"part-{k:05d}.parquet")
            pq.write_table(table, path)
            os.utime(path, (base + k, base + k))
            paths.append(path)
        return paths


def generate(seed: int, n_docs: int) -> Corpus:
    """Docs of varying length over a skewed vocabulary. About 1% are
    marked to raise SoftError, 1% to fail once and recover on retry, and
    1% are exact copies of a doc in an earlier file."""
    rng = np.random.default_rng(seed)
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    lengths = rng.integers(3, 11, _VOCAB)
    chars = letters[rng.integers(0, 26, int(lengths.sum()))].tobytes().decode()
    ends = np.cumsum(lengths)
    vocab = np.array(
        [chars[e - ln : e] for e, ln in zip(ends.tolist(), lengths.tolist())],
        dtype=object,
    )
    n_words = np.clip(
        rng.lognormal(np.log(40), 0.8, n_docs), _MIN_WORDS, _MAX_WORDS
    ).astype(np.int64)
    # squaring a uniform draw skews word frequency towards low indices
    word_idx = (_VOCAB * rng.random(int(n_words.sum())) ** 2).astype(np.int64)
    offsets = np.concatenate(([0], np.cumsum(n_words))).tolist()
    flag_draw = rng.random(n_docs)
    dup_draw = rng.random(n_docs)
    dup_pick = rng.random(n_docs)
    noise = rng.integers(0, 8, n_docs).tolist()
    noise_pos = rng.random(n_docs).tolist()

    norm: list[str] = []
    seen: set[str] = set()
    for i in range(n_docs):
        s = " ".join(vocab[word_idx[offsets[i] : offsets[i + 1]]])
        while s in seen:  # keep unplanted docs distinct
            s += " " + vocab[i % _VOCAB]
        seen.add(s)
        norm.append(s)
    flag = np.where(
        flag_draw < 0.01, FLAG_SOFT, np.where(flag_draw < 0.02, FLAG_FLAKY, FLAG_OK)
    ).tolist()
    dup_of = [-1] * n_docs
    for i in range(FILE_ROWS, n_docs):
        if dup_draw[i] >= 0.01:
            continue
        # the original sits in an earlier file, so a stream that reads
        # files in order always keeps the original and drops the copy
        j = int(dup_pick[i] * (i // FILE_ROWS) * FILE_ROWS)
        while j >= 0 and (flag[j] != FLAG_OK or dup_of[j] >= 0):
            j -= 1
        if j < 0:
            continue
        dup_of[i] = j
        flag[i] = FLAG_OK
        norm[i] = norm[j]

    text: list[str] = []
    for i in range(n_docs):
        if dup_of[i] >= 0:
            text.append(text[dup_of[i]])
            continue
        s = norm[i]
        kind = noise[i]
        if kind == 1:
            s = s.title()
        elif kind == 2:
            s = s.upper()
        elif kind == 3:
            s = "  " + s + " \n"
        elif kind == 4:
            cut = s.find(" ", int(noise_pos[i] * len(s)))
            if cut > 0:
                s = s[:cut] + "\t  " + s[cut + 1 :]
        elif kind == 5:
            s = s.capitalize() + "  "
        text.append(s)
    return Corpus(list(range(n_docs)), text, flag, norm, dup_of)


def row_key(doc_id, norm, n_tokens, digest, attempts, errors) -> str:
    """Canonical text of one output row; ``errors`` are error entries."""
    errs = ";".join(
        f"{e['stage']}|{e['kind']}|{e['exc_class']}|{e['message']}" for e in errors
    )
    return f"{doc_id}\x1f{norm}\x1f{n_tokens}\x1f{digest}\x1f{attempts}\x1f{errs}"


class RowHash:
    """Order-insensitive hash of a multiset of rows: a sum of 64-bit row
    hashes, so it needs no sort and no memory beyond one integer."""

    def __init__(self) -> None:
        self.rows = 0
        self.value = 0

    def add(self, key: str) -> None:
        h = hashlib.blake2b(key.encode(), digest_size=8).digest()
        self.value = (self.value + int.from_bytes(h, "little")) & _MASK64
        self.rows += 1

    def summary(self) -> tuple[int, int]:
        return self.rows, self.value


def expected(corpus: Corpus) -> tuple[int, int]:
    """(rows, hash) of the chain's output after the streaming workload's
    dedup, which keeps only the first doc of each normalized text."""
    h = RowHash()
    for i in range(corpus.n):
        if corpus.dup_of[i] >= 0:
            continue
        s = corpus.norm[i]
        errors = (
            [{"stage": "gate", "kind": "soft", "exc_class": "SoftError",
              "message": f"marked doc {i}"}]
            if corpus.flag[i] == FLAG_SOFT
            else []
        )
        h.add(
            row_key(
                i,
                s,
                s.count(" ") + 1,
                hashlib.md5(s.encode()).hexdigest(),
                2 if corpus.flag[i] == FLAG_FLAKY else 1,
                errors,
            )
        )
    return h.summary()


def parquet_summary(path: str) -> tuple[int, int, int, int]:
    """(rows, hash, soft-error rows, retried rows) of a chain output
    written as parquet, read back without Spark."""
    import pyarrow.parquet as pq

    import pyarrow.compute as pc

    cols = ["doc_id", "norm", "n_tokens", "digest", "attempts"]
    table = pq.read_table(path, columns=cols + ["_errors"])
    data = [table[c].to_pylist() for c in cols]
    # converting nested rows is slow, and ~1% of rows carry errors
    err_col = table["_errors"]
    has_err = pc.fill_null(pc.greater(pc.list_value_length(err_col), 0), False)
    errors_at = {
        int(i): err_col[int(i)].as_py()
        for i in pc.indices_nonzero(has_err).to_pylist()
    }
    h = RowHash()
    soft = retried = 0
    for idx, (doc_id, norm, n_tok, digest, attempts) in enumerate(zip(*data)):
        errors = errors_at.get(idx, [])
        soft += any(e["kind"] == "soft" for e in errors)
        retried += attempts == 2
        h.add(row_key(doc_id, norm, n_tok, digest, attempts, errors))
    rows, value = h.summary()
    return rows, value, soft, retried
