"""The three benchmark workloads: one op each, its output capture and check,
and the per-layer figures of a traced op.

An op's timer covers only calls into the program. Between ops, outside
the timer, the op's output is captured for checking and the session's
cache is cleared (the program persists intermediates and never drops
them, so without the clear every op after the first would reuse the
first op's work).
"""

from __future__ import annotations

import contextlib
import hashlib
import heapq
import importlib
import importlib.util
import os
import random
from collections import defaultdict
from pathlib import Path

from spans import Tracer, job_stats

ROOT = Path(__file__).resolve().parents[1]


def _mod(name: str):
    return importlib.import_module(f"mapreduce_sssp_spark.{name}")


def _maybe(tr: Tracer | None, name: str):
    return tr.span(name) if tr is not None else contextlib.nullcontext()


def _spans(tr: Tracer, name: str):
    return [s for s in tr.spans if s.name == name]


def _inclusive_groups(tr: Tracer, span) -> list[str]:
    """The span's job group plus those of every span nested in it."""
    groups, frontier = [span.group], {span.group}
    while frontier:
        nxt = {s.group for s in tr.spans if s.parent in frontier}
        groups += sorted(nxt)
        frontier = nxt
    return groups


def _stats(tr: Tracer, spans) -> dict:
    groups = [g for s in spans for g in _inclusive_groups(tr, s)]
    return job_stats(tr.sc, groups)


def _count_after(key: str):
    """After-hook for a traced call returning a DataFrame: persist it and
    count it inside the span, so the layer's work is timed apart from
    its consumer (which then reads the cached rows)."""

    def after(span, df):
        df = df.persist()
        span.counts[key] = df.count()
        return df

    return after


class Workload:
    """``clock()`` returns (wall seconds, CPU seconds used so far by the
    session's processes); an op reports one (wall, CPU) pair per query."""

    name = ""

    def __init__(self, spark, inputs: dict, clock):
        self.spark = spark
        self.inputs = inputs
        self.clock = clock

    def op(self, tr: Tracer | None) -> tuple[list[tuple[float, float]], object]:
        """Run one op; return ([(wall_s, cpu_s) per query], output)."""
        raise NotImplementedError

    def warmup_op(self) -> tuple[list[tuple[float, float]], object]:
        """One warm-up op; by default the timed op itself."""
        return self.op(None)

    def _since(self, start: tuple[float, float]) -> tuple[float, float]:
        wall, cpu = self.clock()
        return wall - start[0], cpu - start[1]

    def capture(self, out):
        """Fetch what the output check needs (outside the timer)."""
        return out

    def check(self, captured) -> str | None:
        """None if the captured output is correct, else why not."""
        raise NotImplementedError

    def layers(self, tr: Tracer) -> dict:
        """Per-layer figures of one traced op, from its spans."""
        raise NotImplementedError


# -- sssp_converge -----------------------------------------------------------


def dijkstra(edges_path: str, source: int) -> dict[int, float]:
    adj = defaultdict(list)
    with open(edges_path) as f:
        for line in f:
            _, s, d, w = line.split()
            adj[int(s)].append((int(d), float(w)))
    dist = {source: 0.0}
    heap = [(0.0, source)]
    while heap:
        d, u = heapq.heappop(heap)
        if d > dist[u]:
            continue
        for v, w in adj[u]:
            nd = d + w
            if nd < dist.get(v, float("inf")):
                dist[v] = nd
                heapq.heappush(heap, (nd, v))
    return dist


class SsspConverge(Workload):
    name = "sssp_converge"

    def __init__(self, spark, inputs, clock):
        super().__init__(spark, inputs, clock)
        self.sources = _mod("io.sources")
        self.sssp = _mod("graph.sssp")
        self._expected = None

    def op(self, tr):
        start = self.clock()
        with _maybe(tr, "io.sources.read_edge_list_text"):
            edges = self.sources.read_edge_list_text(self.spark, self.inputs["edges_path"])
        with _maybe(tr, "graph.sssp"):
            out = self.sssp.sssp(edges, self.inputs["source"])
        with _maybe(tr, "write.noop"):
            out.write.format("noop").mode("overwrite").save()
        return [self._since(start)], out

    def capture(self, out):
        return {r["node"]: r["dist"] for r in out.collect()}

    def check(self, got):
        if self._expected is None:
            self._expected = dijkstra(self.inputs["edges_path"], self.inputs["source"])
        if got == self._expected:
            return None
        diff = [n for n in set(got) | set(self._expected)
                if got.get(n) != self._expected.get(n)]
        return f"{len(diff)} node distances differ from Dijkstra, e.g. node {diff[0]}"

    def layers(self, tr):
        (read,) = _spans(tr, "io.sources.read_edge_list_text")
        (call,) = _spans(tr, "graph.sssp")
        st = _stats(tr, [call])
        rounds = st["count_jobs"]
        return {
            "io.sources.read_edge_list_text_s": read.seconds,
            "graph.sssp.call_s": call.seconds,
            "graph.sssp.rounds": rounds,
            "graph.sssp.round_s": call.seconds / rounds if rounds else 0.0,
            "graph.sssp.driver_s": call.seconds - st["job_s"],
            "graph.sssp.stages": st["stages"],
            "graph.sssp.tasks": st["tasks"],
            "graph.sssp.shuffle_bytes": st["shuffle_write_bytes"],
        }


# -- tpch_sql ----------------------------------------------------------------


def _check_oracle():
    """tools/check_oracle.py, whose row canonicalization the tpch check uses."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", ROOT / "tools" / "check_oracle.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def result_hash(canon_rows, cols, rows) -> str:
    return hashlib.sha256(repr(canon_rows(cols, rows)).encode()).hexdigest()


class TpchSql(Workload):
    name = "tpch_sql"

    def __init__(self, spark, inputs, clock, seed: int):
        super().__init__(spark, inputs, clock)
        registry = _mod("queries_registry")
        self.queries = registry.QUERIES
        self.oracle = registry.ORACLE
        self.relational = _mod("operators.relational")
        self.order = sorted(n for n in self.queries if n.startswith("sql_tpch_q"))
        random.Random(seed).shuffle(self.order)
        self._expected = {}
        self._canon = None

    def op(self, tr):
        queries, results = [], []
        patch = (tr.patched([(self.relational, "register_tables",
                              "io.sources.register_tables", None)])
                 if tr is not None else contextlib.nullcontext())
        with patch:
            for name in self.order:
                start = self.clock()
                with _maybe(tr, "relational.query"):
                    with _maybe(tr, "relational.build"):
                        df = self.queries[name](self.spark, self.inputs["sf_dir"])
                    if tr is not None:
                        with tr.span("relational.plan"):
                            df._jdf.queryExecution().executedPlan()
                    with _maybe(tr, "relational.exec"):
                        rows = [tuple(r) for r in df.collect()]
                queries.append(self._since(start))
                results.append((name, list(df.columns), rows))
                self.spark.catalog.clearCache()
        return queries, results

    def warmup_op(self):
        """The cycle's queries on one thread per core. The first cycle of
        a fresh JVM is mostly JIT compilation and single-threaded query
        planning; running queries side by side overlaps them, so the
        session reaches the same warm state in less set-up time."""
        from concurrent.futures import ThreadPoolExecutor

        def one(name):
            df = self.queries[name](self.spark, self.inputs["sf_dir"])
            return name, list(df.columns), [tuple(r) for r in df.collect()]

        start = self.clock()
        with ThreadPoolExecutor(self.spark.sparkContext.defaultParallelism) as pool:
            results = list(pool.map(one, self.order))
        return [self._since(start)], results

    def _oracle_hash(self, name):
        if name not in self._expected:
            import duckdb

            con = duckdb.connect()
            for t in _mod("io.sources").TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{self.inputs['sf_dir']}/{t}.parquet'")
            cur = con.execute(self.oracle[name])
            cols = [d[0] for d in cur.description]
            self._expected[name] = result_hash(self._canon, cols, cur.fetchall())
            con.close()
        return self._expected[name]

    def check(self, results):
        if self._canon is None:
            self._canon = _check_oracle().canon_rows
        bad = [name for name, cols, rows in results
               if result_hash(self._canon, cols, rows) != self._oracle_hash(name)]
        return f"result hash differs from the DuckDB twin: {bad}" if bad else None

    def layers(self, tr):
        st = _stats(tr, _spans(tr, "relational.query"))
        return {
            "io.sources.register_tables_s": sum(
                s.seconds for s in _spans(tr, "io.sources.register_tables")),
            "relational.build_s": sum(s.seconds for s in _spans(tr, "relational.build")),
            "relational.plan_s": sum(s.seconds for s in _spans(tr, "relational.plan")),
            "relational.exec_s": sum(s.seconds for s in _spans(tr, "relational.exec")),
            "relational.jobs": st["jobs"],
            "relational.stages": st["stages"],
            "relational.tasks": st["tasks"],
            "relational.shuffle_bytes": st["shuffle_write_bytes"],
        }


# -- corpus_dedup ------------------------------------------------------------


class CorpusDedup(Workload):
    name = "corpus_dedup"

    def __init__(self, spark, inputs, clock, out_dir: str):
        super().__init__(spark, inputs, clock)
        self.out_dir = out_dir
        self.pipeline = _mod("operators.pipeline")
        self.dedup = _mod("operators.dedup")
        self.wcc = _mod("graph.wcc")
        self.sinks = _mod("io.sinks")
        self.sources = _mod("io.sources")
        self._expected_stats = None
        self._expected_clusters = None

    def op(self, tr):
        from pyspark.sql import functions as F

        d = self.inputs["sf_dir"]
        patch = (tr.patched([
            (self.dedup, "minhash_verified_pairs", "dedup.pairs",
             _count_after("verified_pairs")),
            (self.dedup, "lsh_candidate_pairs", "dedup.candidates",
             _count_after("candidate_pairs")),
            (self.wcc, "wcc", "graph.wcc", None),
        ]) if tr is not None else contextlib.nullcontext())
        start = self.clock()
        with patch:
            with _maybe(tr, "pipeline.clean_corpus"):
                stats = [tuple(r) for r in
                         self.pipeline.q_pipeline_clean_corpus(self.spark, d).collect()]
            with _maybe(tr, "dedup.minhash_clusters"):
                clusters = self.dedup.q_dedup_minhash_clusters(self.spark, d)
            with _maybe(tr, "io.sinks.write_partitioned"):
                losers = clusters.filter(~F.col("kept")).select("doc_id")
                survivors = self.sources.load_table(self.spark, d, "documents").join(
                    losers, "doc_id", "left_anti")
                self.sinks.write_partitioned(survivors, self.out_dir, "source")
        return [self._since(start)], (stats, clusters)

    def capture(self, out):
        import pyarrow.parquet as pq

        stats, clusters = out
        canon = {r["doc_id"]: r["canon_id"] for r in clusters.collect()}
        written = pq.read_table(self.out_dir, columns=["doc_id"]).num_rows
        return stats, canon, written

    def _oracle(self, sql: str) -> list[tuple]:
        import duckdb

        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                    f"'{self.inputs['sf_dir']}/documents.parquet'")
        rows = con.execute(sql).fetchall()
        con.close()
        return rows

    def _oracle_stats(self):
        if self._expected_stats is None:
            self._expected_stats = sorted(
                self._oracle(self.pipeline.ORACLE["pipeline_clean_corpus"]))
        return self._expected_stats

    def _oracle_clusters(self) -> dict:
        if self._expected_clusters is None:
            rows = self._oracle(self.dedup.ORACLE["dedup_minhash_clusters"])
            self._expected_clusters = {doc: c for doc, c, _ in rows}
        return self._expected_clusters

    def check(self, captured):
        stats, canon, written = captured
        if sorted(stats) != self._oracle_stats():
            return "pipeline_clean_corpus differs from its DuckDB twin"
        expected = self._oracle_clusters()
        if canon != expected:
            diff = [d for d in set(canon) | set(expected)
                    if canon.get(d) != expected.get(d)]
            return (f"{len(diff)} docs' (doc_id, canon_id) differ from the "
                    f"DuckDB twin of dedup_minhash_clusters, e.g. doc {min(diff)}")
        split = [(a, b) for a, b in self.inputs["planted_pairs"]
                 if a not in canon or canon.get(a) != canon.get(b)]
        if split:
            return f"{len(split)} planted near-duplicate pairs not in one cluster"
        losers = sum(1 for doc, c in canon.items() if doc != c)
        if written != self.inputs["documents"] - losers:
            return f"wrote {written} survivors, expected {self.inputs['documents'] - losers}"
        return None

    def layers(self, tr):
        (pairs,) = _spans(tr, "dedup.pairs")
        (cands,) = _spans(tr, "dedup.candidates")
        (wcc,) = _spans(tr, "graph.wcc")
        (write,) = _spans(tr, "io.sinks.write_partitioned")
        wst = _stats(tr, [wcc])
        files, nbytes = 0, 0
        for dirpath, _, names in os.walk(self.out_dir):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(dirpath, n))
        n_cand = cands.counts["candidate_pairs"]
        n_ver = pairs.counts["verified_pairs"]
        return {
            "pipeline.clean_corpus_s": _spans(tr, "pipeline.clean_corpus")[0].seconds,
            "dedup.pairs_s": pairs.seconds,
            "dedup.candidate_pairs": n_cand,
            "dedup.verified_pairs": n_ver,
            "dedup.lsh_precision": n_ver / n_cand if n_cand else 0.0,
            "dedup.shuffle_bytes": _stats(tr, [pairs])["shuffle_write_bytes"],
            "graph.wcc.call_s": wcc.seconds,
            "graph.wcc.rounds": wst["count_jobs"],
            "graph.wcc.driver_s": wcc.seconds - wst["job_s"],
            "io.sinks.write_s": write.seconds,
            "io.sinks.files_written": files,
            "io.sinks.bytes_written": nbytes,
        }

