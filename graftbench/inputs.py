"""Seeded inputs for the word-count workloads, and the counts they must give.

A corpus is drawn from a Zipf law over a fixed-size vocabulary. Words are
letters only (the tokenizer splits on runs of non-letters), separators mix
spaces, punctuation and digits, and about 1% of lines are blank, so the
tokenizer sees the cases the reference's `[^\\p{L}]+` split has to handle.

Everything the store must hold after a run is derived here from the token
draws, without the program: the per-word counts, the number of documents
written, and the exact bytes of the document files and change-feed entries.
"""
import os
import zlib

import numpy as np

COLLECTION = "corpus"

# Separators between tokens, with their weights. Digits and punctuation are
# non-letters, so every one of these ends a token.
_SEPS = np.array([" ", ", ", " - ", ". ", " 7 ", "; "], dtype=object)
_SEP_W = np.array([0.80, 0.08, 0.03, 0.05, 0.02, 0.02])


def _vocabulary(rng, size):
    """`size` distinct letter-only words. A seeded alphabet permutation makes
    the spelling depend on the seed; one non-ASCII letter exercises the
    Unicode tokenizer and the store's percent-encoded file names."""
    alphabet = list("abcdefghijklmnopqrstuvwxyzé")
    rng.shuffle(alphabet)
    base = len(alphabet)
    words = []
    for k in range(size):
        n = k + base * base  # bijective base-27 from 3 letters up: unique
        w = []
        while n > 0:
            n -= 1
            w.append(alphabet[n % base])
            n //= base
        words.append("".join(w))
    return np.array(words, dtype=object)


def _zipf_draws(rng, n, vocab, s):
    cdf = np.cumsum(np.arange(1, vocab + 1, dtype=np.float64) ** -s)
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(n), side="right"), vocab - 1)


class Corpus:
    """`lines` lines of `per_line` tokens; `chunks` > 1 cuts it into that many
    consecutive files (the streaming workload's one-file-per-trigger input)."""

    def __init__(self, seed, lines, per_line, vocab, s, chunks=1):
        rng = np.random.default_rng([seed, 0x6772616674])
        self.words = _vocabulary(rng, vocab)
        self.lines, self.per_line, self.chunks = lines, per_line, chunks
        self.draws = _zipf_draws(rng, lines * per_line, vocab, s).reshape(lines, per_line)
        blank = rng.random(lines) < 0.01
        self.draws[blank] = -1  # a blank line carries no tokens
        self.seps = rng.choice(len(_SEPS), size=(lines, per_line), p=_SEP_W)
        self.bounds = [lines * i // chunks for i in range(chunks + 1)]

    def _text(self, lo, hi):
        d, sep = self.draws[lo:hi], self.seps[lo:hi]
        parts = np.empty((hi - lo, 2 * self.per_line), dtype=object)
        parts[:, 0::2] = np.where(d >= 0, self.words[np.maximum(d, 0)], "")
        parts[:, 1::2] = np.where(d >= 0, _SEPS[sep], "")
        parts[:, -1] = "\n"
        return "".join(parts.ravel()).encode("utf-8")

    def write(self, directory):
        """Write the chunk files with strictly increasing modification times:
        the file source orders files by mtime, and a tie would change which
        chunk lands in which trigger. Returns the paths and total bytes."""
        os.makedirs(directory, exist_ok=True)
        paths, total = [], 0
        base = int(os.stat(directory).st_mtime) - self.chunks - 10
        for i in range(self.chunks):
            p = os.path.join(directory, f"chunk-{i:03d}.txt")
            data = self._text(self.bounds[i], self.bounds[i + 1])
            with open(p, "wb") as f:
                f.write(data)
            os.utime(p, (base + i, base + i))
            paths.append(p)
            total += len(data)
        return paths, total

    def _chunk_counts(self, i):
        d = self.draws[self.bounds[i]:self.bounds[i + 1]].ravel()
        return np.bincount(d[d >= 0], minlength=len(self.words))

    def expected(self, collection=COLLECTION):
        """What a complete run must leave behind and have written.

        Batch (one chunk): every word is written once. Streaming (complete
        output mode): trigger b rewrites every word seen in chunks 0..b with
        its running count, so documents and feed bytes sum over triggers."""
        id_bytes = np.array([len(w.encode("utf-8")) for w in self.words], dtype=np.int64)
        # `{"collection": "<c>", "doc_id": "<id>", "count": <n>}\n`
        feed_fixed = len('{"collection": "", "doc_id": "", "count": }\n') + len(collection)
        running = np.zeros(len(self.words), dtype=np.int64)
        docs_written = feed_bytes = 0
        for i in range(self.chunks):
            running += self._chunk_counts(i)
            seen = running > 0
            docs_written += int(seen.sum())
            feed_bytes += int((feed_fixed + id_bytes[seen] + _digits(running[seen])).sum())
        seen = running > 0
        crc = sum(zlib.crc32(f"{w}:{c}".encode("utf-8"))
                  for w, c in zip(self.words[seen], running[seen]))
        doc_bytes = int((len('{"count": }') + _digits(running[seen])).sum())
        return {
            "core.tokens": int(running.sum()),
            "core.distinct_words": int(seen.sum()),
            "docs_written": docs_written,
            "store.doc_files": int(seen.sum()),
            "store.doc_bytes": doc_bytes,
            "store.feed_bytes": feed_bytes,
            "store_bytes": doc_bytes + feed_bytes,
            "streaming.triggers": self.chunks if self.chunks > 1 else 0,
            # order-insensitive fingerprint of the read-back collection
            "readback": [int(seen.sum()), int(running.sum()), int(crc)],
        }


def _digits(a):
    return np.char.str_len(a.astype(str)).astype(np.int64)
