"""The benchmark's workloads: inputs, set-up, the closed loop, checks.

Each workload drives the program only through its public functions,
from the one client thread, and records every operation in a Ledger:
an operation that raises or fails its output check counts as failed.
"""

from __future__ import annotations

import os
import shutil
import sys
import traceback

import numpy as np
import pyarrow.parquet as pq

import gen

#: Relational mix cycled by ``warehouse``: every query has a DuckDB
#: oracle in the registry. Queries whose oracle check fails on these
#: inputs are left out, see perfbench/README.md.
MIX = ("q_tpch_q4", "q_tpch_q12", "q_join_multiway", "q_tpch_q14",
       "q_agg_cube", "q_win_running", "q_join_asof", "q_topk")

PROBE_K = 10
PROBES_PER_APPEND = 3
#: Mean recall@10 of one probe batch below this fails the batch.
MIN_RECALL_AT_10 = 0.5
#: Share of planted near-duplicate pairs that dedup must find.
MIN_DEDUP_RECALL = 0.95


class Ledger:
    """Counts operations attempted and failed; keeps the reasons."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def record(self, name: str, problems: list[str]) -> bool:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(f"{name}: {p}" for p in problems)
        return not problems

    def run(self, name: str, fn, check=None):
        """Call ``fn``; then ``check(result)`` -> list of problems.
        Returns the result, or None when the operation failed."""
        try:
            result = fn()
            problems = check(result) if check is not None else []
        except Exception:  # any failure of the program is a failed operation
            traceback.print_exc(file=sys.stderr)
            self.record(name, [traceback.format_exc(limit=1).strip().splitlines()[-1]])
            return None
        return result if self.record(name, problems) else None


def noop_write(df) -> None:
    """Execute a DataFrame completely without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, skipping Spark's marker files."""
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size


def instrument_catalog(tracer) -> None:
    """Put a ``catalog.load`` span around every ``load_table`` call.
    The query modules import the function by name, so each module's
    reference is replaced; call once, after every query module loaded."""
    from sparkit_learn_spark import catalog

    orig = catalog.load_table

    def load_table(*args, **kwargs):
        with tracer.span("catalog.load"):
            return orig(*args, **kwargs)

    for mod in list(sys.modules.values()):
        if (getattr(mod, "__name__", "").startswith("sparkit_learn_spark")
                and getattr(mod, "load_table", None) is orig):
            mod.load_table = load_table


class Warehouse:
    """Closed loop, one client, cycling ``MIX`` over TPC-H-shaped tables."""

    name = "warehouse"

    def __init__(self, work: str, seed: int, tracer, ledger: Ledger):
        self.data = os.path.join(work, "warehouse")
        self.duck_tmp = os.path.join(work, "duckdb")
        self.seed, self.tracer, self.ledger = seed, tracer, ledger
        self.latencies: dict[str, list[float]] = {q: [] for q in MIX}
        self.checked = self.matched = 0

    def generate(self) -> None:
        gen.write_tables(gen.warehouse_tables(self.seed), self.data)

    def setup(self, spark) -> None:
        from sparkit_learn_spark import catalog, registry

        self.queries = registry.all_queries()
        with self.tracer.span("session.warmup"):
            # each load is its own catalog.load span; the scan of the
            # fact table is the warm-up pass that executes
            tables = {t: catalog.load_table(spark, self.data, t) for t in catalog.TABLES}
            tables["lineitem"].count()

    def prepare(self, spark) -> None:
        """Check every mix query against its oracle once, untimed; this
        also runs each query's code paths before the timed loop."""
        from sparkit_learn_spark.testing import check_query, duck_connect

        self.tracer.phase = "check"
        con = duck_connect(self.data, memory_limit="1GB",
                           temp_directory=self.duck_tmp, max_temp_size="2GB")
        try:
            for q in MIX:
                self.checked += 1
                if self.ledger.run(f"check {q}",
                                   lambda q=q: check_query(spark, con, q, self.data)) is not None:
                    self.matched += 1
        finally:
            con.close()

    def step(self, spark) -> None:
        """One pass over the whole mix, so every run weighs each query alike."""
        for q in MIX:
            self.tracer.new_op()

            def call(q=q):
                with self.tracer.span("queries.build") as b:
                    df = self.queries[q](spark, self.data)
                with self.tracer.span("queries.exec") as e:
                    noop_write(df)
                return b.duration + e.duration

            dt = self.ledger.run(q, call)
            if dt is not None:
                self.latencies[q].append(dt)

    def report(self) -> dict:
        """Workload-specific figures: request latencies by kind, the
        operations and their time, and the output quality."""
        return {"op_latencies": self.latencies,
                "requests": [x for v in self.latencies.values() for x in v],
                "ops": sum(map(len, self.latencies.values())),
                "op_time": sum(map(sum, self.latencies.values())),
                "quality": self.matched / max(self.checked, 1),
                "named": {},
                "gauges": {}}


class CorpusSearch:
    """One client alternating a corpus-prep pass with a vector ingest
    and search cycle (build the index, append one batch, then probe)."""

    name = "corpus_search"

    def __init__(self, work: str, seed: int, tracer, ledger: Ledger):
        self.corpus_dir = os.path.join(work, "corpus")
        self.kept_dir = os.path.join(work, "corpus_kept")
        self.store = os.path.join(work, "vector_store")
        self.index = os.path.join(work, "ann_index")
        self.seed, self.tracer, self.ledger = seed, tracer, ledger
        self.probe_s: list[float] = []
        self.pass_s: list[float] = []
        self.build_s: list[float] = []
        self.append_s: list[float] = []
        self.recalls: list[float] = []
        self.dedup_recalls: list[float] = []
        self.accuracies: list[float] = []
        self.pairs_found: list[int] = []
        self.clusters: list[int] = []
        self.written_bytes: list[int] = []
        self.layout: list[tuple[int, int]] = []
        self._batches = self._queries = 0

    # ---------------------------------------------------------- inputs
    def generate(self) -> None:
        table, self.truth = gen.corpus(self.seed)
        gen.write_tables({"documents": table}, self.corpus_dir)
        self.labels = dict(zip(table.column("doc_id").to_pylist(),
                               table.column("label").to_pylist()))
        self.initial, _ = gen.clustered_vectors(self.seed, gen.VEC_INITIAL)

    def _reset_store(self) -> None:
        """Start state: the store holds only the initial vectors, and
        there is no index and no prepared corpus."""
        for p in (self.store, self.index, self.kept_dir):
            shutil.rmtree(p, ignore_errors=True)
        os.makedirs(self.store)
        pq.write_table(gen.embedding_table(np.arange(len(self.initial)), self.initial),
                       os.path.join(self.store, "part-00000.parquet"))
        self.vectors = self.initial
        self.fingerprint = "store-0"
        self._batches = 0

    def _query_frame(self, spark):
        self._queries += 1
        q, _ = gen.clustered_vectors(self.seed, gen.VEC_PROBE_BATCH,
                                     stream=f"queries-{self._queries}")
        first = 1_000_000_000 + self._queries * gen.VEC_PROBE_BATCH
        ids = np.arange(first, first + len(q))
        return q, ids, spark.createDataFrame(gen.embedding_table(ids, q).to_pandas())

    # ----------------------------------------------------------- set-up
    def setup(self, spark) -> None:
        from sparkit_learn_spark.catalog import load_table

        with self.tracer.span("session.warmup"):
            load_table(spark, self.corpus_dir, "documents").count()

    def prepare(self, spark) -> None:
        """Nothing: each cycle builds its own index."""

    # ------------------------------------------------------------- loop
    def step(self, spark) -> None:
        """Each cycle starts from the same state, so cycles repeat."""
        self._reset_store()
        self.tracer.new_op()
        self.ledger.run("corpus pass", lambda: self._corpus_pass(spark), self._pass_problems)
        self.tracer.new_op()
        self.ledger.run("build", lambda: self._build(spark))
        self.tracer.new_op()
        self.ledger.run("append", lambda: self._append(spark),
                        lambda result: self._append_problems(spark, result))
        for _ in range(PROBES_PER_APPEND):
            self.tracer.new_op()
            self._probe(spark)

    def _corpus_pass(self, spark):
        from pyspark.sql import functions as F

        from sparkit_learn_spark.catalog import load_table
        from sparkit_learn_spark.ml.estimators import make_text_classification_pipeline
        from sparkit_learn_spark.operators import components, dedup
        from sparkit_learn_spark.sources.parquet_io import write_parquet

        t = self.tracer
        with t.span("bench.pass") as whole:
            docs = load_table(spark, self.corpus_dir, "documents")  # spanned as catalog.load
            with t.span("dedup.exact"):
                exact = dedup.exact_dedup(docs).localCheckpoint(eager=True)
            unique = docs.join(exact.select("doc_id"), "doc_id", "left_semi")
            with t.span("dedup.near_pairs"):
                pairs = dedup.minhash_banded_pairs(unique).localCheckpoint(eager=True)
            with t.span("components.clusters"):
                clusters = components.dedup_clusters(pairs).localCheckpoint(eager=True)
            kept = unique.join(clusters.filter(~F.col("is_canonical")).select("doc_id"),
                               "doc_id", "left_anti")
            with t.span("ml.fit"):
                model = make_text_classification_pipeline(labelCol="label").fit(
                    docs.filter(F.col("doc_id") % 5 == 0))
            with t.span("ml.predict"):
                scored = model.transform(kept).select(
                    "doc_id", "text", "lang", "source", "n_chars",
                    F.col("prediction").cast("int").alias("predicted")
                ).localCheckpoint(eager=True)
            with t.span("sources.write"):
                write_parquet(scored, self.kept_dir)
        self.pass_s.append(whole.duration)
        return exact, pairs, clusters

    def _pass_problems(self, result) -> list[str]:
        exact, pairs, clusters = result
        truth, out = self.truth, []
        groups = exact.filter("n_copies > 1").count()
        if groups != truth.exact_groups:
            out.append(f"exact-duplicate groups {groups} != planted {truth.exact_groups}")
        found = {(min(a, b), max(a, b)) for a, b in pairs.select("doc_a", "doc_b").collect()}
        recall = len(found & truth.near_pairs) / len(truth.near_pairs)
        self.dedup_recalls.append(recall)
        self.pairs_found.append(len(found))
        if recall < MIN_DEDUP_RECALL:
            out.append(f"dedup recall {recall:.4f} < {MIN_DEDUP_RECALL}")
        comp = clusters.collect()
        self.clusters.append(len({r["cluster_id"] for r in comp}))
        dropped = sum(1 for r in comp if not r["is_canonical"])
        expected = truth.n_docs - truth.exact_copies - dropped
        written = pq.read_table(self.kept_dir, columns=["doc_id", "predicted"]).to_pylist()
        if len(written) != expected:
            out.append(f"written rows {len(written)} != expected survivors {expected}")
        if written:
            acc = sum(self.labels[r["doc_id"]] == r["predicted"] for r in written) / len(written)
            self.accuracies.append(acc)
            if acc <= truth.majority_rate:
                out.append(f"accuracy {acc:.4f} <= majority rate {truth.majority_rate:.4f}")
        self.written_bytes.append(dir_stats(self.kept_dir)[1])
        return out

    def _build(self, spark) -> None:
        from sparkit_learn_spark.operators import ann_index

        with self.tracer.span("ann_index.build") as sp:
            ann_index.write_index(spark.read.parquet(self.store), self.index,
                                  source_fingerprint=self.fingerprint)
        self.build_s.append(sp.duration)

    def _append(self, spark):
        from sparkit_learn_spark.operators import ann_index

        self._batches += 1
        batch, _ = gen.clustered_vectors(self.seed, gen.VEC_APPEND_BATCH,
                                         stream=f"append-{self._batches}")
        ids = np.arange(len(self.vectors), len(self.vectors) + len(batch))
        part = os.path.join(self.store, f"part-{self._batches:05d}.parquet")
        pq.write_table(gen.embedding_table(ids, batch), part)
        new_fp = f"store-{self._batches}"
        with self.tracer.span("ann_index.append") as sp:
            meta = ann_index.append_to_index(spark.read.parquet(part), self.index,
                                             expected_fingerprint=self.fingerprint,
                                             new_fingerprint=new_fp)
        self.append_s.append(sp.duration)
        stale, self.fingerprint = self.fingerprint, new_fp
        self.vectors = np.vstack([self.vectors, batch])
        self.layout.append(dir_stats(os.path.join(self.index, "codes")))
        return meta, stale

    def _append_problems(self, spark, result) -> list[str]:
        from sparkit_learn_spark.operators import ann_index

        meta, stale = result
        out = []
        if meta["n_vectors"] != len(self.vectors):
            out.append(f"index holds {meta['n_vectors']} vectors, store {len(self.vectors)}")
        # the fingerprint guard must refuse a probe against the old corpus
        _, _, qdf = self._query_frame(spark)
        try:
            ann_index.probe_index(spark, self.index, qdf, k=PROBE_K,
                                  corpus=spark.read.parquet(self.store),
                                  expected_fingerprint=stale)
            out.append("probe with a stale fingerprint was not refused")
        except ValueError:
            pass
        return out

    def _probe(self, spark) -> None:
        from sparkit_learn_spark.operators import ann_index

        q, ids, qdf = self._query_frame(spark)

        def call():
            with self.tracer.span("ann_index.probe") as sp:
                rows = ann_index.probe_index(spark, self.index, qdf, k=PROBE_K,
                                             corpus=spark.read.parquet(self.store),
                                             expected_fingerprint=self.fingerprint).collect()
            self.probe_s.append(sp.duration)
            return rows

        def check(rows):
            problems, recall = self._probe_problems(rows, q, ids)
            self.recalls.append(recall)
            return problems

        self.ledger.run("probe", call, check)

    def _probe_problems(self, rows, q, ids):
        """(problems, recall@10) of one probe batch against exact search
        over every vector in the store."""
        out = []
        sims = q.astype(np.float64) @ self.vectors.astype(np.float64).T
        truth = np.argsort(-sims, axis=1, kind="stable")[:, :PROBE_K]
        got: dict[int, list] = {}
        for r in rows:
            got.setdefault(r["qid"], []).append((r["nid"], r["sim"]))
        recalls = []
        for i, qid in enumerate(ids.tolist()):
            hits = got.get(qid, [])
            nids = [n for n, _ in hits]
            if len(nids) != PROBE_K or len(set(nids)) != PROBE_K:
                out.append(f"query {qid}: {len(nids)} neighbours, expected {PROBE_K} distinct")
                continue
            if not all(0 <= n < len(self.vectors) for n in nids):
                out.append(f"query {qid}: neighbour id outside the store")
                continue
            if any(abs(s - sims[i, n]) > 1e-5 for n, s in hits):
                out.append(f"query {qid}: similarity differs from the exact dot product")
            recalls.append(len(set(nids) & set(truth[i].tolist())) / PROBE_K)
        recall = float(np.mean(recalls)) if recalls else 0.0
        if recall < MIN_RECALL_AT_10:
            out.append(f"recall@10 {recall:.4f} < {MIN_RECALL_AT_10}")
        return out, recall

    def report(self) -> dict:
        n_docs = self.truth.n_docs
        appended = gen.VEC_APPEND_BATCH * len(self.append_s)
        files, size = self.layout[-1] if self.layout else (0, 0)
        named = {
            "docs_per_s": (n_docs * len(self.pass_s) / sum(self.pass_s), "docs/s")
            if self.pass_s else None,
            "dedup_recall": (_mean(self.dedup_recalls), "ratio"),
            "append_vecs_per_s": (appended / sum(self.append_s), "vectors/s")
            if self.append_s else None,
            "build_s": (_median(self.build_s), "s"),
            "probe_p50_s": (_median(self.probe_s), "s"),
            "search_recall_at_10": (_mean(self.recalls), "ratio"),
        }
        kinds = {"pass": self.pass_s, "build": self.build_s, "append": self.append_s,
                 "probe": self.probe_s}
        return {
            "op_latencies": kinds,
            "requests": self.probe_s,
            "ops": sum(map(len, kinds.values())),
            "op_time": sum(map(sum, kinds.values())),
            "quality": _mean(self.recalls),
            "named": {k: v for k, v in named.items() if v is not None},
            "gauges": {
                "dedup.pairs_found": _mean(self.pairs_found),
                "dedup.planted_found_ratio": _mean(self.dedup_recalls),
                "components.clusters": _mean(self.clusters),
                "ml.accuracy": _mean(self.accuracies),
                "sources.bytes_written": _mean(self.written_bytes),
                "ann_index.files": files,
                "ann_index.bytes_per_vector": size / max(len(self.vectors), 1),
                "ann_index.recall_at_10": _mean(self.recalls),
            },
        }


def _mean(xs) -> float:
    return float(np.mean(xs)) if len(xs) else 0.0


def _median(xs) -> float:
    return float(np.median(xs)) if len(xs) else 0.0


WORKLOADS = {w.name: w for w in (Warehouse, CorpusSearch)}
