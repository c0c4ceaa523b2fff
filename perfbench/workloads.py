"""The closed-loop workloads, driven through the program's public API.

A workload builds its inputs in ``setup`` and then hands out rounds of
operations.  An ``Op`` runs the timed client work and returns the number of
items it processed plus a ``verify`` callable; ``verify`` runs untimed and
returns an error message, or None when the output is correct.
"""

from __future__ import annotations

import dataclasses
import os
from typing import Callable

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa

import gen
from aws_sdk_pandas_spark import athena, lakehouse_shim, s3
from aws_sdk_pandas_spark.functions import text as ftext
from aws_sdk_pandas_spark.operators import dedup, similarity

Verify = Callable[[], "str | None"]


@dataclasses.dataclass
class Op:
    kind: str
    run: Callable[[], "tuple[int, Verify]"]


def dir_files(*roots: str) -> dict[str, int]:
    """path -> size of every regular file under ``roots``."""
    out: dict[str, int] = {}
    for root in roots:
        for dirpath, _, names in os.walk(root):
            for n in names:
                p = os.path.join(dirpath, n)
                try:
                    out[p] = os.path.getsize(p)
                except OSError:
                    pass
    return out


class WriteTracker:
    """New files appearing under some directories between two calls."""

    def __init__(self, *roots: str):
        self.roots = roots
        self.seen = dir_files(*roots)

    def delta(self) -> dict[str, int]:
        now = dir_files(*self.roots)
        new = {p: s for p, s in now.items() if p not in self.seen}
        self.seen = now
        return new


def arrow_bytes(df: pd.DataFrame) -> int:
    return pa.Table.from_pandas(df, preserve_index=False).nbytes


class Workload:
    name = ""
    WARM_UP_ROUNDS = 1  # rounds run and checked untimed before the loop

    def __init__(self, spark, tracer, seed: int):
        self.spark, self.tr, self.seed = spark, tracer, seed
        self.rng = np.random.default_rng(seed + 1)
        self.counters: dict[str, float] = {}

    def count(self, key: str, value: float) -> None:
        """Add to a layer counter; a traced run counts its traced operations only."""
        if self.tr.paused:
            return
        self.counters[key] = self.counters.get(key, 0.0) + value

    def setup(self, root: str) -> None:
        """Generate the inputs and build the lake under ``root``."""
        raise NotImplementedError

    def round(self) -> list[Op]:
        raise NotImplementedError

    def finish(self) -> dict[str, float]:
        """End-of-run facts (sizes, amplification); called after the loop."""
        return {}


# --------------------------------------------------------------------------
# lakehouse, write side
# --------------------------------------------------------------------------


class IngestUpsert(Workload):
    """CDC batches landed raw and upserted into a partitioned table (the
    write side of ``Lakehouse``).

    A round is one maintenance cycle: ``CYCLE`` commits, the last of which
    also compacts and vacuums the table and checks it against the model.
    """

    CYCLE = 2

    def setup(self, root: str) -> None:
        self.stream = gen.CdcStream(self.seed)
        self.raw = os.path.join(root, "raw")
        self.table = os.path.join(root, "table")
        first = self.spark.createDataFrame(self.stream.initial())
        with self.tr.span("lakehouse.append"):
            s3.to_deltalake(first, self.table, mode="append", partition_cols=["dt"])
        self.writes = WriteTracker(self.raw, self.table)

    def _check_table(self) -> str | None:
        got = lakehouse_shim.read(self.spark, self.table, columns=["id", "ver", "val"]).toPandas()
        n, checksum = self.stream.model()
        got_sum = gen.frame_checksum(got.astype({"id": "int64", "ver": "int64"}), ["id", "ver", "val"])
        if len(got) != n or got_sum != checksum:
            return f"table has {len(got)} rows/checksum {got_sum}, model {n}/{checksum}"
        return None

    def _commit(self, maintain: bool) -> Op:
        pdf = self.stream.next_batch()
        source_bytes = arrow_bytes(pdf)
        sdf = self.spark.createDataFrame(pdf)

        def run():
            with self.tr.span("sources.write"):
                res = s3.to_parquet(sdf, self.raw, dataset=True, mode="append", partition_cols=["dt"])
            with self.tr.span("lakehouse.merge"):
                m = lakehouse_shim.merge(self.spark, sdf, self.table, ["id"], precombine_key="ver")
            if maintain:
                with self.tr.span("lakehouse.compact"):
                    lakehouse_shim.compact(self.spark, self.table)
                with self.tr.span("lakehouse.vacuum"):
                    lakehouse_shim.vacuum(self.table, keep_versions=1)

            def verify():
                new = self.writes.delta()
                self.count("ingest.source_bytes", source_bytes)
                self.count("ingest.written_bytes", sum(new.values()))
                raw = [s for p, s in new.items() if p.startswith(self.raw) and p.endswith(".parquet")]
                self.count("sources.write_files", len(raw))
                self.count("sources.write_bytes", sum(raw))
                self.count("lakehouse.merge_files_rewritten", m["files_rewritten"])
                self.count("lakehouse.merge_files_kept", m["files_kept"])
                if maintain:
                    # vacuum kept one version: every data file left is compact's output
                    self.count(
                        "lakehouse.compact_bytes",
                        sum(s for p, s in self.writes.seen.items() if p.startswith(self.table) and p.endswith(".parquet")),
                    )
                if not raw or not res["paths"]:
                    return "to_parquet wrote no files"
                return self._check_table() if maintain else None

            return len(pdf), verify

        return Op("maintain" if maintain else "commit", run)

    def round(self) -> list[Op]:
        return [self._commit(i == self.CYCLE - 1) for i in range(self.CYCLE)]

    def finish(self) -> dict[str, float]:
        hist = lakehouse_shim.history(self.table)
        live = lakehouse_shim.read(self.spark, self.table).toPandas()
        return {
            "ingest.write_amp": self.counters["ingest.written_bytes"] / self.counters["ingest.source_bytes"],
            "ingest.space_amp": sum(dir_files(self.table).values()) / arrow_bytes(live),
            "lakehouse.versions": float(len(hist)),
            "lakehouse.live_files": float(hist[-1]["num_files"]),
        }


# --------------------------------------------------------------------------
# lakehouse, read side
# --------------------------------------------------------------------------


def _norm(df: pd.DataFrame, keys: list[str]) -> pd.DataFrame:
    out = df.copy()
    for c in out.columns:
        if out[c].dtype == object or str(out[c].dtype).startswith(("datetime", "date")):
            out[c] = out[c].astype(str)
        elif np.issubdtype(out[c].dtype, np.integer):
            out[c] = out[c].astype(np.int64)
        elif np.issubdtype(out[c].dtype, np.floating):
            out[c] = out[c].astype(np.float64)
    return out.sort_values(keys).reset_index(drop=True)


def frames_differ(got: pd.DataFrame, want: pd.DataFrame, keys: list[str]) -> str | None:
    """None when equal up to row order and float rounding (rel 1e-9)."""
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    g, w = _norm(got, keys), _norm(want, keys)
    for c in g.columns:
        if np.issubdtype(g[c].dtype, np.floating):
            if not np.allclose(g[c].to_numpy(), w[c].to_numpy(), rtol=1e-9, atol=1e-9, equal_nan=True):
                return f"column {c} differs"
        elif not (g[c].to_numpy() == w[c].to_numpy()).all():
            return f"column {c} differs"
    return None


class LakeQuery(Workload):
    """Seeded lookups and scans over a lake built once in setup (the read
    side of ``Lakehouse``).

    A round is ``LOOKUPS_PER_ROUND`` of each lookup template and one of each
    scan template, in seeded order.  Lookups are partition-filtered and
    key-selective; scans aggregate the whole event dataset.
    """

    LOOKUPS_PER_ROUND = 3

    def setup(self, root: str) -> None:
        lake = gen.Lake(self.seed)
        self.lake = lake
        self.events = os.path.join(root, "events")
        self.users = os.path.join(root, "users")
        self.table = os.path.join(root, "accounts")
        sp = self.spark
        with self.tr.span("sources.write"):
            s3.to_parquet(sp.createDataFrame(lake.events), self.events, dataset=True, partition_cols=["dt"])
            s3.to_parquet(sp.createDataFrame(lake.users), self.users, dataset=True)
        with self.tr.span("lakehouse.append"):
            # stats on id so predicate lookups can skip files
            lakehouse_shim.write(
                sp.createDataFrame(lake.table_v0.sort_values("id")), self.table, mode="append",
                stats_cols=["id"],
            )
        self.versions = [lakehouse_shim.latest_version(self.table)]
        for batch in lake.commits:
            with self.tr.span("lakehouse.merge"):
                lakehouse_shim.merge(sp, sp.createDataFrame(batch), self.table, ["id"])
            self.versions.append(lakehouse_shim.latest_version(self.table))
        with self.tr.span("sources.read_plan"):
            s3.read_parquet(sp, self.events, dataset=True).createOrReplaceTempView("events")
            s3.read_parquet(sp, self.users, dataset=True).createOrReplaceTempView("users")
        if getattr(self, "duck", None) is not None:
            self.duck.close()  # the previous set-up's lake is gone
        self.duck = duckdb.connect()
        self.duck.execute("SET threads TO 2")
        for view, pattern in (("events", "*/*.parquet"), ("users", "*.parquet")):
            glob = os.path.join(root, view, pattern).replace("'", "''")
            self.duck.execute(
                f"CREATE OR REPLACE VIEW {view} AS SELECT * FROM read_parquet('{glob}', hive_partitioning = true)"
            )

    # -- lookups -----------------------------------------------------------

    def _day(self) -> str:
        return gen.day_str(int(self.rng.integers(0, self.lake.days)))

    def _user(self) -> int:
        # half of the lookups hit a heavy user, half a random one
        if self.rng.random() < 0.5:
            return int(self.rng.integers(0, 20))
        return int(self.rng.integers(0, self.lake.n_users))

    def _duck(self, sql: str) -> pd.DataFrame:
        return self.duck.execute(sql).df()

    def lookup_parquet(self) -> Op:
        day, user = self._day(), self._user()
        cols = ["id", "user_id", "amount", "qty"]

        def run():
            with self.tr.span("sources.read_plan"):
                df = s3.read_parquet(
                    self.spark, self.events, dataset=True,
                    partition_filter=lambda p: p["dt"] == day, columns=cols,
                )
            with self.tr.span("sources.read_exec"):
                got = df.where(df.user_id == user).toPandas()

            def verify():
                want = self._duck(
                    f"SELECT id, user_id, amount, qty FROM events WHERE dt = DATE '{day}' AND user_id = {user}"
                )
                return frames_differ(got, want, ["id"])

            return 1, verify

        return Op("lookup", run)

    def _table_lookup(self, kind: str) -> Op:
        lo = int(self.rng.integers(0, self.lake.max_id - 100))
        hi = lo + int(self.rng.integers(20, 100))
        idx = len(self.versions) - 1 if kind == "lookup_delta" else int(self.rng.integers(0, len(self.versions)))
        preds = [("id", ">=", lo), ("id", "<", hi)]
        cols = ["id", "balance", "status", "ver"]

        def run():
            with self.tr.span("lakehouse.snapshot_plan"):
                if kind == "lookup_delta":
                    df = s3.read_deltalake(self.spark, self.table, columns=cols)
                    df = df.where((df.id >= lo) & (df.id < hi))
                else:
                    df = lakehouse_shim.read(
                        self.spark, self.table, version=self.versions[idx], columns=cols, predicates=preds
                    )
            with self.tr.span("lakehouse.snapshot_exec"):
                got = df.toPandas()

            def verify():
                # read_deltalake takes no predicates, so it scans every file
                kept, total = lakehouse_shim.files_scanned(self.table, preds, version=self.versions[idx])
                self.count("lakehouse.files_scanned", kept if kind != "lookup_delta" else total)
                self.count("lakehouse.files_total", total)
                return frames_differ(got, self.lake.table_at(idx, lo, hi), ["id"])

            return 1, verify

        return Op("lookup", run)

    def _sql(self, kind: str, sql: str, keys: list[str]) -> Op:
        def run():
            with self.tr.span("sql.analyze"):
                df = athena.read_sql_query(self.spark, sql, dialect="trino")
            with self.tr.span("sql.exec"):
                got = df.toPandas()

            def verify():
                self.count("sql.rows_returned", len(got))
                return frames_differ(got, self._duck(sql), keys)

            return 1, verify

        return Op(kind, run)

    def lookup_sql(self) -> Op:
        day, user = self._day(), self._user()
        return self._sql(
            "lookup",
            f'SELECT "id", "amount", date_diff(\'day\', DATE \'2024-01-01\', "dt") AS "age" '
            f'FROM events WHERE "dt" = DATE \'{day}\' AND "user_id" = {user}',
            ["id"],
        )

    # -- scans -------------------------------------------------------------

    def scan_group(self) -> Op:
        since = self._day()
        return self._sql(
            "scan",
            f'SELECT "category", count(*) AS "n", sum("amount") AS "total", avg("qty") AS "avg_qty" '
            f'FROM events WHERE "dt" >= DATE \'{since}\' GROUP BY "category"',
            ["category"],
        )

    def scan_join(self) -> Op:
        tier = int(self.rng.integers(0, 4))
        return self._sql(
            "scan",
            'SELECT u."region", count(*) AS "n", sum(e."amount") AS "total" '
            'FROM events e JOIN users u ON e."user_id" = u."user_id" '
            f'WHERE u."tier" = {tier} GROUP BY u."region"',
            ["region"],
        )

    def scan_window(self) -> Op:
        top = int(self.rng.integers(1, 5))
        return self._sql(
            "scan",
            'SELECT "dt", "category", "total" FROM ('
            'SELECT "dt", "category", sum("amount") AS "total", row_number() OVER '
            '(PARTITION BY "dt" ORDER BY sum("amount") DESC, "category") AS "rn" '
            f'FROM events GROUP BY "dt", "category") t WHERE "rn" <= {top}',
            ["dt", "category"],
        )

    def round(self) -> list[Op]:
        ops = [
            make()
            for _ in range(self.LOOKUPS_PER_ROUND)
            for make in (
                self.lookup_parquet,
                lambda: self._table_lookup("lookup_delta"),
                lambda: self._table_lookup("lookup_version"),
                self.lookup_sql,
            )
        ]
        ops += [self.scan_group(), self.scan_join(), self.scan_window()]
        return [ops[i] for i in self.rng.permutation(len(ops))]


# --------------------------------------------------------------------------
# corpus_curation
# --------------------------------------------------------------------------


def cosine_distances(corpus: np.ndarray, queries: np.ndarray) -> np.ndarray:
    """(queries x corpus) cosine distances in float64 over float32 inputs."""
    c = corpus.astype(np.float64)
    q = queries.astype(np.float64)
    return 1.0 - (q @ c.T) / (np.linalg.norm(q, axis=1)[:, None] * np.linalg.norm(c, axis=1)[None, :])


class CorpusCuration(Workload):
    """Per shard: quality/language scoring, MinHash near-duplicate removal,
    a batch of exact k-NN queries, and a write of the kept documents."""

    name = "corpus_curation"
    # shard latency kept falling for ~4 shards after the first: Catalyst
    # planning of the MinHash and k-NN plans warms up slowly
    WARM_UP_ROUNDS = 4
    QUALITY_MIN = 0.5
    RECALL_FLOOR = 0.9
    K = 10

    def setup(self, root: str) -> None:
        self.corpus = gen.Corpus(self.seed)
        self.out = os.path.join(root, "curated")
        self.writes = WriteTracker(self.out)

    def _shard(self) -> Op:
        shard = self.corpus.next_shard()
        frame = shard["frame"]
        sp = self.spark
        docs = sp.createDataFrame(frame[["doc_id", "text"]])
        queries = sp.createDataFrame(shard["queries"])

        def run():
            with self.tr.span("functions.text_score"):
                scored = docs.select(
                    "doc_id",
                    ftext.quality_score("text").alias("quality"),
                    ftext.language_id("text").alias("lang"),
                ).toPandas()
            kept = frame.merge(scored[scored.quality >= self.QUALITY_MIN], on="doc_id")
            kept_sdf = sp.createDataFrame(kept[["doc_id", "text"]])
            with self.tr.span("operators.minhash"):
                pairs = dedup.minhash_duplicates(kept_sdf, threshold=0.8).toPandas()
            final = kept[~kept.doc_id.isin(set(pairs.id_b.tolist()))]
            corpus_sdf = sp.createDataFrame(final[["doc_id", "vector"]])
            with self.tr.span("operators.knn"):
                nn = similarity.knn_batch(corpus_sdf, queries, k=self.K, id_col="doc_id").toPandas()
            out_sdf = sp.createDataFrame(final[["doc_id", "text", "quality", "lang"]])
            with self.tr.span("sources.write"):
                s3.to_parquet(out_sdf, self.out, dataset=True, mode="append")

            def verify():
                return self._verify(shard, scored, pairs, final, nn)

            return len(frame), verify

        return Op("shard", run)

    def _verify(self, shard, scored, pairs, final, nn) -> str | None:
        lang = scored.set_index("doc_id")["lang"].to_dict()
        if lang != shard["lang"]:
            bad = [d for d in shard["lang"] if lang.get(d) != shard["lang"][d]][:3]
            return f"language_id mismatch on docs {bad}"
        low = set(scored.doc_id[scored.quality < self.QUALITY_MIN].tolist())
        if low != shard["junk"]:
            return f"quality filter dropped {len(low)} docs, planted junk {len(shard['junk'])}"
        found = set(zip(pairs.id_a.tolist(), pairs.id_b.tolist()))
        recall = len(found & shard["planted"]) / len(shard["planted"])
        self.count("operators.minhash_pairs", len(found))
        self.count("operators.minhash_planted_found", len(found & shard["planted"]))
        self.count("operators.minhash_planted", len(shard["planted"]))
        if recall < self.RECALL_FLOOR:
            return f"minhash recall {recall:.3f} below floor {self.RECALL_FLOOR}"
        if (pairs.jaccard < 0.8).any():
            return "minhash returned a pair below the threshold"
        ids = final.doc_id.to_numpy()
        dist = cosine_distances(
            np.stack(final.vector.to_numpy()), np.stack(shard["queries"].vector.to_numpy())
        )
        id_pos = {int(d): i for i, d in enumerate(ids)}
        for qid, grp in nn.groupby("query_id"):
            grp = grp.sort_values("rank")
            want = np.sort(dist[qid])[: self.K]
            got_d = grp.distance.to_numpy()
            own = np.array([dist[qid, id_pos[int(d)]] for d in grp.doc_id])
            if len(grp) != self.K or not (
                np.allclose(got_d, want, atol=2e-6) and np.allclose(own, got_d, atol=2e-6)
            ):
                return f"knn_batch top-{self.K} differs from brute force for query {qid}"
        if nn.query_id.nunique() != len(shard["queries"]):
            return "knn_batch skipped queries"
        new = [s for p, s in self.writes.delta().items() if p.endswith(".parquet")]
        self.count("sources.write_files", len(new))
        self.count("sources.write_bytes", sum(new))
        if not new:
            return "to_parquet wrote no files"
        return None

    def round(self) -> list[Op]:
        return [self._shard()]


class Lakehouse(Workload):
    """Write and read side of the lake in one closed loop.

    A round is one ingest maintenance cycle of commits; each commit follows
    an equal share of one round of lake queries, so every round carries the
    same mix of commits, maintenance, lookups and scans.
    """

    name = "lakehouse"
    # the three set-up builds already ran every write path; after one round,
    # CPU per operation without the JIT compiler stayed flat
    WARM_UP_ROUNDS = 1

    def __init__(self, spark, tracer, seed: int):
        super().__init__(spark, tracer, seed)
        self.ingest = IngestUpsert(spark, tracer, seed)
        self.query = LakeQuery(spark, tracer, seed)
        self.ingest.counters = self.query.counters = self.counters

    def setup(self, root: str) -> None:
        self.ingest.setup(os.path.join(root, "ingest"))
        self.query.setup(os.path.join(root, "query"))

    def round(self) -> list[Op]:
        commits = self.ingest.round()
        queries = self.query.round()
        step = len(queries) // len(commits)
        out: list[Op] = []
        for i, commit in enumerate(commits):
            last = i == len(commits) - 1
            out += queries[i * step : None if last else (i + 1) * step]
            out.append(commit)
        return out

    def finish(self) -> dict[str, float]:
        return self.ingest.finish()


WORKLOADS = {w.name: w for w in (Lakehouse, CorpusCuration)}
