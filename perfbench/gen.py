"""Seeded input generators and the pandas models the outputs are checked against.

Everything here is plain NumPy/pandas: the program under test only ever sees
the frames and files these generators produce.  The same seed always gives
the same inputs and the same operation order.
"""

from __future__ import annotations

import datetime as _dt

import numpy as np
import pandas as pd

DAY0 = _dt.date(2024, 1, 1)


def day_str(i: int) -> str:
    return (DAY0 + _dt.timedelta(days=int(i))).isoformat()


def frame_checksum(df: pd.DataFrame, cols: list[str]) -> int:
    """Order-independent checksum: wrapping sum of per-row hashes."""
    if df.empty:
        return 0
    h = pd.util.hash_pandas_object(df[cols].reset_index(drop=True), index=False)
    return int(h.to_numpy(dtype=np.uint64).sum(dtype=np.uint64))


def _notes(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    codes = rng.integers(0, 26, size=(n, 12))
    return ["".join(r) for r in letters[codes]]


# --------------------------------------------------------------------------
# lakehouse, write side: a CDC stream with recency-skewed updates
# --------------------------------------------------------------------------


class CdcStream:
    """Initial table plus an endless stream of upsert batches.

    Keys are dense ints; a key's ``dt`` partition is fixed at creation.  Each
    batch carries ``new_rows`` fresh keys on the newest day and ``upd_rows``
    updates whose day is drawn Zipf(``zipf_s``) over recency (rank 0 = newest
    day) with a ``tail`` share drawn uniformly over all days.  ``ver`` is a
    global sequence number, so the latest change of a key always wins.

    The model (``ver``/``val``/``day`` per key) is the expected table state
    after every batch handed out so far.
    """

    def __init__(
        self,
        seed: int,
        *,
        days: int = 20,
        rows_per_day: int = 1000,
        new_rows: int = 150,
        upd_rows: int = 350,
        batches_per_day: int = 4,
        zipf_s: float = 2.5,
        tail: float = 0.01,
    ):
        self.rng = np.random.default_rng(seed)
        self.new_rows, self.upd_rows = new_rows, upd_rows
        self.batches_per_day, self.zipf_s, self.tail = batches_per_day, zipf_s, tail
        n = days * rows_per_day
        cap = n + 4096
        self.ver = np.zeros(cap, dtype=np.int64)
        self.val = np.zeros(cap, dtype=np.float64)
        self.day = np.zeros(cap, dtype=np.int64)
        self.day[:n] = np.repeat(np.arange(days), rows_per_day)
        self.val[:n] = np.round(self.rng.random(n) * 1000, 4)
        self.ver[:n] = np.arange(n)
        self.n_keys = n
        self.newest = days - 1
        self.seq = n
        self.batches = 0
        self._day_keys: list[list[np.ndarray]] = [
            [np.arange(d * rows_per_day, (d + 1) * rows_per_day)] for d in range(days)
        ]

    def initial(self) -> pd.DataFrame:
        n = self.n_keys
        return pd.DataFrame(
            {
                "id": np.arange(n, dtype=np.int64),
                "ver": self.ver[:n].copy(),
                "val": self.val[:n].copy(),
                "note": _notes(self.rng, n),
                "dt": [day_str(d) for d in self.day[:n]],
            }
        )

    def _grow(self, need: int) -> None:
        if need <= len(self.ver):
            return
        cap = max(need, 2 * len(self.ver))
        for name in ("ver", "val", "day"):
            arr = getattr(self, name)
            out = np.zeros(cap, dtype=arr.dtype)
            out[: len(arr)] = arr
            setattr(self, name, out)

    def _update_keys(self) -> np.ndarray:
        days = self.newest + 1
        ranks = np.arange(days)
        p = 1.0 / (ranks + 1.0) ** self.zipf_s
        p = (1.0 - self.tail) * p / p.sum() + self.tail / days
        rank = self.rng.choice(days, size=self.upd_rows, p=p)
        out = np.empty(self.upd_rows, dtype=np.int64)
        for i, r in enumerate(rank):
            chunks = self._day_keys[self.newest - r]
            sizes = [len(c) for c in chunks]
            j = int(self.rng.integers(0, sum(sizes)))
            for c, s in zip(chunks, sizes):
                if j < s:
                    out[i] = c[j]
                    break
                j -= s
        return out

    def next_batch(self) -> pd.DataFrame:
        """Next batch, applied to the model."""
        if self.batches and self.batches % self.batches_per_day == 0:
            self.newest += 1
            self._day_keys.append([])
        self.batches += 1
        new = np.arange(self.n_keys, self.n_keys + self.new_rows, dtype=np.int64)
        self._grow(self.n_keys + self.new_rows)
        self.day[new] = self.newest
        self._day_keys[self.newest].append(new)
        self.n_keys += self.new_rows
        upd = self._update_keys()
        ids = np.concatenate([upd, new])
        self.rng.shuffle(ids)
        n = len(ids)
        ver = np.arange(self.seq, self.seq + n, dtype=np.int64)
        self.seq += n
        val = np.round(self.rng.random(n) * 1000, 4)
        # sequential assignment: for a key repeated in the batch the later
        # (higher ver) row wins, as merge's precombine_key does
        self.ver[ids] = ver
        self.val[ids] = val
        return pd.DataFrame(
            {
                "id": ids,
                "ver": ver,
                "val": val,
                "note": _notes(self.rng, n),
                "dt": [day_str(d) for d in self.day[ids]],
            }
        )

    def model(self) -> tuple[int, int]:
        """(row count, checksum over id/ver/val) of the expected table."""
        n = self.n_keys
        df = pd.DataFrame(
            {"id": np.arange(n, dtype=np.int64), "ver": self.ver[:n], "val": self.val[:n]}
        )
        return n, frame_checksum(df, ["id", "ver", "val"])


# --------------------------------------------------------------------------
# lakehouse, read side: a partitioned event dataset, a dimension and a versioned table
# --------------------------------------------------------------------------

CATEGORIES = [f"c{i:02d}" for i in range(20)]
REGIONS = ["ap", "eu", "me", "na", "sa", "af", "oc", "an"]


class Lake:
    """Seeded lake contents plus the per-version model of the table."""

    def __init__(
        self,
        seed: int,
        *,
        days: int = 20,
        rows_per_day: int = 1000,
        users: int = 2000,
        accounts: int = 5000,
        table_commits: int = 2,
        upd_per_commit: int = 500,
        new_per_commit: int = 100,
    ):
        rng = np.random.default_rng(seed)
        self.days = days
        n = days * rows_per_day
        # user activity is skewed, so some lookups hit many rows and some few
        user = (rng.zipf(1.3, size=n) - 1) % users
        self.events = pd.DataFrame(
            {
                "id": np.arange(n, dtype=np.int64),
                "user_id": user.astype(np.int64),
                "category": np.array(CATEGORIES)[rng.integers(0, len(CATEGORIES), n)],
                "amount": np.round(rng.lognormal(3.0, 1.0, n), 2),
                "qty": rng.integers(1, 10, n).astype(np.int32),
                "dt": [day_str(d) for d in np.repeat(np.arange(days), rows_per_day)],
            }
        )
        self.users = pd.DataFrame(
            {
                "user_id": np.arange(users, dtype=np.int64),
                "region": np.array(REGIONS)[rng.integers(0, len(REGIONS), users)],
                "tier": rng.integers(0, 4, users).astype(np.int32),
            }
        )
        self.n_users = users
        acc = pd.DataFrame(
            {
                "id": np.arange(accounts, dtype=np.int64),
                "balance": np.round(rng.random(accounts) * 1e4, 2),
                "status": np.array(["open", "frozen", "closed"])[rng.integers(0, 3, accounts)],
                "ver": np.zeros(accounts, dtype=np.int64),
            }
        )
        self.table_v0 = acc
        self.commits: list[pd.DataFrame] = []
        state = acc.set_index("id")
        self.states = [state]
        next_id = accounts
        for c in range(1, table_commits + 1):
            upd = rng.choice(next_id, size=upd_per_commit, replace=False)
            new = np.arange(next_id, next_id + new_per_commit)
            next_id += new_per_commit
            ids = np.concatenate([upd, new]).astype(np.int64)
            batch = pd.DataFrame(
                {
                    "id": ids,
                    "balance": np.round(rng.random(len(ids)) * 1e4, 2),
                    "status": np.array(["open", "frozen", "closed"])[rng.integers(0, 3, len(ids))],
                    "ver": np.full(len(ids), c, dtype=np.int64),
                }
            )
            self.commits.append(batch)
            state = pd.concat([state.drop(index=upd), batch.set_index("id")]).sort_index()
            self.states.append(state)
        self.max_id = next_id

    def table_at(self, idx: int, lo: int, hi: int) -> pd.DataFrame:
        """Expected rows with lo <= id < hi after commit ``idx`` (0 = first write)."""
        s = self.states[idx]
        s = s[(s.index >= lo) & (s.index < hi)]
        return s.reset_index()[["id", "balance", "status", "ver"]]


# --------------------------------------------------------------------------
# corpus_curation: shards with planted near-duplicates and embeddings
# --------------------------------------------------------------------------

# language-unique stopwords (subsets of the profiles language_id scores), so
# the planted language is the only profile a document hits
LANG_WORDS = {
    "en": ["the", "and", "of", "to", "is", "that", "it", "was", "for"],
    "es": ["el", "que", "y", "los", "se", "por"],
    "fr": ["le", "et", "les", "des", "une", "du", "est"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "ein"],
}
LANGS = sorted(LANG_WORDS)


class Corpus:
    """Endless stream of document shards.

    Per shard: ``docs`` documents of 60-100 words (content words of 5-10
    letters, ~15% stopwords of one planted language), ``junk`` share of
    punctuation-only short documents the quality filter must drop, and
    ``clusters`` near-duplicate clusters of three (an original and two
    copies with one word replaced each).  Every document has a ``dim``-d
    embedding; near-duplicates get the original's vector plus small noise.
    """

    def __init__(
        self,
        seed: int,
        *,
        docs: int = 400,
        clusters: int = 30,
        junk: float = 0.05,
        dim: int = 32,
        queries: int = 16,
        vocab: int = 5000,
    ):
        self.rng = np.random.default_rng(seed)
        self.docs, self.clusters, self.junk = docs, clusters, junk
        self.dim, self.queries = dim, queries
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        lens = self.rng.integers(5, 11, vocab)
        self.vocab = np.array(
            ["".join(letters[self.rng.integers(0, 26, n)]) for n in lens], dtype=object
        )
        self.next_id = 0

    def _doc_words(self, lang: str) -> list[str]:
        n = int(self.rng.integers(60, 101))
        words = list(self.vocab[self.rng.integers(0, len(self.vocab), n)])
        stops = LANG_WORDS[lang]
        for pos in self.rng.choice(n, size=n * 15 // 100, replace=False):
            words[pos] = stops[int(self.rng.integers(0, len(stops)))]
        return words

    def next_shard(self) -> dict:
        """Shard frame (doc_id/text/vector in shuffled row order), its planted
        truth (language per doc, junk ids, near-duplicate pairs) and queries."""
        rng = self.rng
        n = self.docs
        base = self.next_id
        self.next_id += n
        n_junk = int(n * self.junk)
        n_plain = n - n_junk - 2 * self.clusters
        texts: list[str] = []
        langs: list[str] = []
        vecs = rng.standard_normal((n, self.dim)).astype(np.float32)
        originals: list[list[str]] = []
        for i in range(n_plain):
            lang = LANGS[int(rng.integers(0, len(LANGS)))]
            words = self._doc_words(lang)
            texts.append(" ".join(words))
            langs.append(lang)
            if i < self.clusters:
                originals.append(words)
        planted: set[tuple[int, int]] = set()
        for oi, words in enumerate(originals):
            members = [base + oi]
            for _ in range(2):
                w = list(words)
                w[int(rng.integers(0, len(w)))] = str(self.vocab[int(rng.integers(0, len(self.vocab)))])
                k = len(texts)
                texts.append(" ".join(w))
                langs.append(langs[oi])
                vecs[k] = vecs[oi] + 0.01 * rng.standard_normal(self.dim).astype(np.float32)
                members.append(base + k)
            planted.update(
                (members[a], members[b]) for a in range(3) for b in range(a + 1, 3)
            )
        for _ in range(n_junk):
            m = int(rng.integers(3, 8))
            texts.append(" ".join("!?;" * int(rng.integers(1, 4)) for _ in range(m)))
            langs.append("und")
        ids = np.arange(base, base + n, dtype=np.int64)
        perm = rng.permutation(n)
        frame = pd.DataFrame(
            {"doc_id": ids[perm], "text": [texts[i] for i in perm], "vector": list(vecs[perm])}
        )
        q = rng.choice(n - n_junk, size=self.queries, replace=False)
        qvec = vecs[q] + 0.05 * rng.standard_normal((len(q), self.dim)).astype(np.float32)
        return {
            "frame": frame,
            "lang": dict(zip(ids.tolist(), langs)),
            "junk": set(ids[n - n_junk:].tolist()),
            "planted": planted,
            "queries": pd.DataFrame({"query_id": np.arange(len(q), dtype=np.int64), "vector": list(qvec)}),
        }
