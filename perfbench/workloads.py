"""The benchmark's workloads: one driver process, one client thread.

Each workload generates its inputs from the seed (``inputs.py``),
stages them as parquet under the run's work directory, and runs a
closed loop of calls into ``pke_spark``'s public functions. Output
checks run beside the loop and count into ``failed``; the oracle itself
runs after the loop, outside every timed region.

- ``index``: the index lifecycle on a seeded source-code corpus (see
  ``Index``): dense and positional builds in set-up, warm Zipf-skewed
  serving with one 100-query batch of each kind, then a sparse build,
  one LSM ingest round with cold readers, and compaction. Tokenizer,
  build, codec, reader, wand, serving, querylang, rows, streaming,
  delete and compaction all run; ``ops.perdoc`` is idle.
- ``keyphrase``: the per-doc operator set over seeded prose documents.
  ``ops.perdoc``, the pandas tokenizer and the Arrow-Python boundary do
  the work; no index layer runs. It is the bypass workload for every
  index optimisation, and ``index`` bypasses ``ops.perdoc``.

The two share one set of end-to-end metrics (``run.py``); what a unit
of work is differs, and is defined by ``throughput`` and
``named_metrics`` below.
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import time
import traceback

import numpy as np
import pandas as pd

from perfbench import inputs


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _d, fs in os.walk(path) for f in fs)


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (no interpolation between samples)."""
    v = sorted(values)
    return float(v[max(0, math.ceil(q / 100.0 * len(v)) - 1)])


class Workload:
    name = ""

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.tracer = None              # set for the traced pass only

    # -- bookkeeping ------------------------------------------------------
    def check(self, ok: bool, what: str) -> bool:
        """One output check of an operation already counted."""
        if not ok:
            self.failed += 1
            print(f"[perfbench] check failed: {what}", file=sys.stderr)
        return ok

    def timed(self, name: str, fn, *args, **kw):
        """Run one operation; returns (result, seconds). An exception
        counts as a failed operation and yields (None, seconds). In the
        traced pass the operation is one request span, named
        ``req:<name>`` so it is never mistaken for a layer's span."""
        self.attempted += 1
        span = self.tracer.open(f"req:{name}", "request") \
            if self.tracer else None
        t = time.perf_counter()
        try:
            out = fn(*args, **kw)
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            out = None
        finally:
            if span is not None:
                self.tracer.close(span)
        return out, time.perf_counter() - t

    def stage(self, df: pd.DataFrame, name: str, files: int = 8) -> str:
        """Write ``df`` as ``files`` parquet files (a multi-file input
        gives the scan one split per core)."""
        path = os.path.join(self.work, name)
        os.makedirs(path, exist_ok=True)
        for k in range(files):
            df.iloc[k::files].to_parquet(f"{path}/part-{k:03d}.parquet",
                                         index=False)
        return path

    # -- interface --------------------------------------------------------
    def setup(self) -> None:
        raise NotImplementedError

    def loop(self, seconds: float, count: int | None = None) -> None:
        """Run for ``seconds``, or exactly ``count`` timed operations
        (the untraced replay of a traced pass)."""
        raise NotImplementedError

    def loop_count(self) -> int | None:
        return None

    def artifacts(self) -> dict:
        """Sizes of what the workload wrote, for the per-layer table."""
        return {}

    def verify(self) -> None:
        """Oracle checks, after the loop."""

    def input_sizes(self) -> dict:
        raise NotImplementedError

    def named_metrics(self) -> dict:
        raise NotImplementedError

    def throughput(self) -> float:
        raise NotImplementedError


# ------------------------------------------------------------------ index

class Index(Workload):
    """The index lifecycle on one seeded code corpus.

    set-up: stage the corpus, build the serving index (dense
    ``build_index`` + ``build_positions``), open its reader and warm it
    with one pass over the driver-path queries the loop will draw.
    loop:  1. serve: a closed loop of driver-path queries (search,
              boolean, query string in turn) for the run's seconds;
              then a fixed set of job-launching queries (the first
              ``JOB_QUERIES[kind]`` phrase and snippet entries of the
              pool, each a first use); then one 100-query batch of
              each kind;
           2. write: a sparse ``build_index`` of the corpus, one LSM
              ingest round on it (``append_batch`` of new docs,
              incremental ``refresh_postings``, ``delete_docs``, a new
              ``IndexReader`` and cold queries), then ``build.compact``.
    """

    name = "index"
    N_DOCS = 5_000
    POOL = 200
    BATCH = 100
    BATCH_DOCS = 500
    DELETE_DOCS = 100
    FRESH_QUERIES = 20
    WARM_DRAWS = 400    # more draws than a run's serving loop makes
    DRIVER_KINDS = ("search", "boolean", "querystring")
    # Every run serves the same number of each job-launching kind, so
    # positions reads and snippets are measured on every seed and the
    # latency tail is made of the same operations on every seed.
    JOB_QUERIES = {"phrase": 1, "snippet": 1}

    def setup(self):
        from pke_spark.index.build import IndexReader, build_index
        from pke_spark.index.positions import build_positions

        self.corpus = inputs.CodeCorpus(self.seed)
        self.docs = self.corpus.docs(0, self.N_DOCS)
        self.text_bytes = int(self.docs["text"].str.len().sum())
        self.docs_df = self.spark.read.parquet(
            self.stage(self.docs, "corpus"))
        self.t = {k: [] for k in ("dense", "positions", "sparse", "append",
                                  "refresh", "delete", "open", "compact",
                                  "refresh_to_visible")}
        self.ixd = os.path.join(self.work, "ix_dense")
        for key, fn, kw in (("dense", build_index, {"dense_doc_ids": True}),
                            ("positions", build_positions, {})):
            t = time.perf_counter()
            fn(self.docs_df, self.ixd, **kw)
            self.t[key].append(time.perf_counter() - t)
        self.reader = IndexReader(self.spark, self.ixd)
        self.pool = inputs.query_pool(self.seed, self.docs, self.POOL)
        self.draws = inputs.op_draws(self.seed, self.pool, 100_000,
                                     self.DRIVER_KINDS)
        self.first: dict[int, list] = {}
        self.op_s: list[float] = []     # interactive latencies
        self.n_driver = 0
        self.batch: list[tuple[str, float, int]] = []
        self.fresh_ms: list[float] = []
        self.deleted: set[int] = set()
        self.probes: list[tuple[list[str], list]] = []
        self.serve_s = 0.0
        # warm the reader with one pass over the driver-path queries the
        # loop will draw, so it serves from warm caches; the job-launching
        # kinds (phrase first use, snippets) stay cold for the loop's tail
        for i in dict.fromkeys(int(x) for x in self.draws[:self.WARM_DRAWS]):
            kind, args = self.pool[i]
            rows, _s = self.timed("warm", self._call, kind, args)
            if rows is not None:
                self.first[i] = rows

    # -- serve --------------------------------------------------------------
    def _call(self, kind: str, args):
        from pke_spark.index import serving, wand
        ix = self.reader
        if kind == "search":
            return wand.search(ix, args)
        if kind == "boolean":
            return wand.boolean_search(ix, args[0], args[1], args[2])
        if kind == "snippet":
            return serving.snippet_search(ix, args)
        return serving.querystring_search_indexed(ix, args)

    def _batch_call(self, kind: str):
        from pke_spark.index import serving, wand
        rng = np.random.default_rng([self.seed, 7, len(self.batch)])
        idx = [i for i, (k, _a) in enumerate(self.pool) if k == kind]
        pick = rng.choice(idx, self.BATCH)
        qs = {f"q{n}": self.pool[i][1] for n, i in enumerate(pick)}
        fn = wand.bm25_topk_batch if kind == "search" else \
            serving.querystring_topk_batch
        rows, s = self.timed(f"batch:{kind}",
                              lambda: fn(self.reader, qs).collect())
        self.batch.append((kind, s, self.BATCH))
        if rows is None:
            return
        got: dict[str, list] = {}
        for r in rows:
            got.setdefault(r["query_id"], []).append(
                (int(r["rank"]), int(r["doc_id"]), float(r["score"])))
        for qid, i in zip(qs, pick):
            if i in self.first:
                self.check(sorted(got.get(qid, [])) == self.first[i],
                           f"batch {kind} {qid} != interactive")

    def _serve_one(self, i: int) -> None:
        kind, args = self.pool[i]
        rows, s = self.timed(kind, self._call, kind, args)
        self.op_s.append(s)
        if rows is None:
            return
        if i in self.first:
            self.check(rows == self.first[i],
                       f"repeat of {kind} {args} changed")
        else:
            self.first[i] = rows

    def serve(self, seconds: float, count: int | None = None) -> None:
        t0 = time.perf_counter()
        while (self.n_driver < count if count is not None
               else time.perf_counter() < t0 + seconds):
            self._serve_one(int(self.draws[self.n_driver]))
            self.n_driver += 1
        for kind, n in self.JOB_QUERIES.items():
            for i in [i for i, (k, _a) in enumerate(self.pool)
                      if k == kind][:n]:
                self._serve_one(i)
        self.serve_s += time.perf_counter() - t0
        for kind in ("search", "querystring"):
            self._batch_call(kind)

    # -- write --------------------------------------------------------------
    def write(self) -> None:
        from pke_spark.index.build import IndexReader, build_index, compact
        from pke_spark.index.delete import delete_docs
        from pke_spark.index.wand import search
        from pke_spark.streaming import append_batch, refresh_postings

        spark = self.spark
        r = len(self.t["sparse"])
        ixs = os.path.join(self.work, f"ix_sparse{r}")
        _x, s = self.timed("build", build_index, self.docs_df, ixs)
        self.t["sparse"].append(s)
        # probes on the fresh sparse index: oracle-checked after the
        # loop; their top hits are among the docs deleted below
        rs = IndexReader(spark, ixs)
        probes = [[inputs.HOT_TERMS[0]]] + [
            a for k, a in self.pool if k == "search"][:5]
        for q in probes:
            rows, _s = self.timed("probe", search, rs, q)
            self.probes.append((q, rows or []))
            self.deleted.update(d for _r, d, _s in (rows or [])[:3])
        rng = np.random.default_rng([self.seed, 99, r])
        self.deleted.update(int(x) for x in rng.choice(
            self.docs["doc_id"].to_numpy(), self.DELETE_DOCS, replace=False))
        marker = f"zqmark{r}"
        batch = self.corpus.docs(self.N_DOCS + r * self.BATCH_DOCS,
                                 self.BATCH_DOCS, marker=marker)
        bdf = spark.read.parquet(self.stage(batch, f"batch{r}", files=2))

        t0 = time.perf_counter()
        reader = None
        for key, fn, args, kw in (
                ("append", append_batch, (bdf, ixs, r), {}),
                ("refresh", refresh_postings, (spark, ixs),
                 {"incremental": True}),
                ("delete", delete_docs, (spark, ixs, sorted(self.deleted)),
                 {}),
                ("open", IndexReader, (spark, ixs), {})):
            reader, s = self.timed(key, fn, *args, **kw)
            self.t[key].append(s)
        hits, s = self.timed("fresh", search, reader, [marker])
        self.t["refresh_to_visible"].append(time.perf_counter() - t0)
        self.fresh_ms.append(1000 * s)
        want = set(int(x) for x in batch["doc_id"])
        self.check(bool(hits) and all(d in want for _r, d, _s in hits or []),
                   f"appended batch {r} not findable")
        # distinct queries: every one meets the new reader's empty caches
        fresh = [a for k, a in self.pool if k == "search"][
            5:5 + self.FRESH_QUERIES - 1]
        for q in fresh:
            rows, s = self.timed("fresh", search, reader, q)
            self.fresh_ms.append(1000 * s)
            self.check(not any(d in self.deleted for _r, d, _s in
                               rows or []), f"deleted doc returned for {q}")
        self.bytes_before = _dir_bytes(ixs)
        _x, s = self.timed("compact", compact, spark, ixs)
        self.t["compact"].append(s)
        self.bytes_after = _dir_bytes(ixs)
        self.ingested = self.BATCH_DOCS * len(self.t["append"])
        shutil.rmtree(ixs, ignore_errors=True)

    def loop(self, seconds, count=None):
        self.serve(seconds, count)
        self.write()

    def loop_count(self):
        return self.n_driver

    def artifacts(self):
        from pke_spark.index.build import docmap_path, postings_path
        from pke_spark.index.positions import positions_dir
        pp = postings_path(self.ixd)
        return {"postings_bytes": _dir_bytes(pp),
                "docmap_bytes": _dir_bytes(docmap_path(pp)),
                "positions_bytes": _dir_bytes(positions_dir(self.ixd)),
                "compact_bytes_before": self.bytes_before,
                "compact_bytes_after": self.bytes_after,
                "tombstone_ratio": len(self.deleted) / (
                    self.N_DOCS + self.ingested)}

    def verify(self):
        oracle = inputs.Bm25Oracle(self.docs)
        for q, rows in self.probes:
            self.attempted += 1
            got = [(d, s) for _r, d, s in rows]
            self.check(inputs.same_topk(got, oracle.topk(q)),
                       f"sparse probe {q} differs from the oracle")
        left = {"search": 4, "boolean": 3, "snippet": 1}
        for i, rows in self.first.items():
            kind, args = self.pool[i]
            if not left.get(kind):
                continue
            left[kind] -= 1
            self.attempted += 1
            if kind == "boolean":
                want = oracle.topk(args[0] + args[1], must=args[0],
                                   must_not=args[2])
            else:
                want = oracle.topk(args)
            got = [(r[1], r[2]) for r in rows]
            self.check(inputs.same_topk(got, want),
                       f"dense {kind} {args} differs from the oracle")

    def input_sizes(self):
        return {"docs": self.N_DOCS, "text_bytes": self.text_bytes,
                "distinct_queries": len(self.pool),
                "distinct_queries_used": len(self.first),
                "interactive_ops": len(self.op_s),
                "job_launching_ops": sum(self.JOB_QUERIES.values()),
                "fresh_queries": len(self.fresh_ms),
                "batch_queries": self.BATCH * len(self.batch),
                "ingest_docs": self.BATCH_DOCS * len(self.t["append"])}

    def throughput(self) -> float:
        """Docs written per second of index-writing calls: the set-up's
        dense and positional builds, the loop's sparse build, and the
        ingest round's append, refresh, delete, reader open and
        compaction."""
        docs = self.N_DOCS * (len(self.t["dense"]) + len(self.t["positions"])
                              + len(self.t["sparse"])) + self.ingested
        return docs / sum(sum(v) for k, v in self.t.items()
                          if k != "refresh_to_visible")

    def named_metrics(self):
        med = lambda k: float(np.median(self.t[k]))  # noqa: E731
        art = self.artifacts()
        index_bytes = (art["postings_bytes"] + art["docmap_bytes"]
                       + art["positions_bytes"])
        ingest_s = sum(sum(self.t[k]) for k in
                       ("append", "refresh", "delete", "open", "compact"))
        bq = sum(n for _k, _s, n in self.batch)
        bs = sum(s for _k, s, _n in self.batch)
        return {
            "build_docs_per_s": self.N_DOCS / med("sparse"),
            "build_dense_docs_per_s": self.N_DOCS / med("dense"),
            "positions_docs_per_s": self.N_DOCS / med("positions"),
            "index_bytes_per_input_byte": index_bytes / self.text_bytes,
            "query_p50_ms": 1000.0 * percentile(self.op_s, 50),
            "query_p99_ms": 1000.0 * percentile(self.op_s, 99),
            "query_samples": len(self.op_s),
            "query_qps": len(self.op_s) / self.serve_s,
            "batch_qps": bq / bs,
            "refresh_p50_s": med("refresh_to_visible"),
            "ingest_docs_per_s": self.ingested / ingest_s,
            "fresh_query_p50_ms": percentile(self.fresh_ms, 50),
            "compact_bytes_before": self.bytes_before,
            "compact_bytes_after": self.bytes_after,
            "write_call_s": self.t,
        }


# -------------------------------------------------------------- keyphrase

def _operators(spark):
    from pke_spark.ops import (graph, keyphrase, supervised, topicrank,
                               tpr, yake)
    return {
        "textrank": lambda d: graph.textrank_topk(d, 5),
        "singlerank": lambda d: graph.singlerank_topk(d, 5),
        "positionrank": lambda d: graph.positionrank_topk(d, 5),
        "topicrank": lambda d: topicrank.topicrank_topk(d, 5),
        "multipartiterank": lambda d: topicrank.multipartiterank_topk(d, 5),
        "topical_pagerank": lambda d: tpr.topical_pagerank_topk(
            d, 5, model=tpr.load_tpr_cached(spark)),
        "yake_full": lambda d: yake.yake_full(d, 5),
        "tfidf_topk": lambda d: keyphrase.tfidf_topk(d, 3),
        "kpminer": lambda d: keyphrase.kpminer(d, 5),
        "firstphrases": lambda d: keyphrase.firstphrases(d, 5),
        "kea_predict": lambda d: supervised.kea_fit_predict(d, 5),
    }


class Keyphrase(Workload):
    """The per-doc keyphrase operator set, each result collected.

    The loop is one fixed pass over the 11 operators and does not read
    ``--seconds``: one pass takes 10-20 s at ``local[4]``, over a run's
    seconds, and a second pass would not fit the run's budget. Set-up
    loads the topical-PageRank model and runs every operator once on
    ``WARM_DOCS`` other docs, so the pass times the operators on a warm
    JVM and warm Python workers: a first, cold pass takes about twice
    as long, most of it one-time start-up."""

    name = "keyphrase"
    N_DOCS = 150
    WARM_DOCS = 8

    def setup(self):
        from pke_spark.ops import tpr
        self.docs = inputs.prose_docs(self.seed, self.N_DOCS)
        self.text_bytes = int(self.docs["text"].str.len().sum())
        self.df = self.spark.read.parquet(self.stage(self.docs, "prose"))
        tpr.load_tpr_cached(self.spark)
        self.ops = _operators(self.spark)
        self.ids = set(int(x) for x in self.docs["doc_id"])
        self.first: dict[str, list] = {}
        self.op_s: dict[str, float] = {}
        warm = self.spark.read.parquet(self.stage(
            inputs.prose_docs(self.seed, self.WARM_DOCS, part=1), "warm",
            files=2))
        for op in self.ops.values():
            self.timed("warm", lambda: op(warm).collect())

    def loop(self, seconds, count=None):
        for name, op in self.ops.items():
            rows, s = self.timed(name, lambda: op(self.df).collect())
            self.op_s[name] = s
            if rows is None:
                continue
            self.check(bool(rows) and all(
                int(r["doc_id"]) in self.ids and 1 <= int(r["rank"]) <= 5
                for r in rows), f"{name} rows out of range")
            self.first[name] = sorted(tuple(r) for r in rows)

    def throughput(self) -> float:
        """Docs x operators per second of operator time."""
        return self.N_DOCS * len(self.op_s) / sum(self.op_s.values())

    def verify(self):
        """The operators with a DuckDB twin (the SQL the oracle gate
        uses) against it, over the same docs; then one repeat of
        firstphrases, which must return the same rows."""
        import duckdb

        from pke_spark.ops import keyphrase
        con = duckdb.connect()
        con.register("documents", self.docs)
        for name, sql in (("tfidf_topk", keyphrase.tfidf_topk_sql(3)),
                          ("firstphrases", keyphrase.firstphrases_sql(5))):
            if name in self.first:
                self.attempted += 1
                want = sorted(con.execute(sql).fetchall())
                self.check(_same_rows(self.first[name], want),
                           f"{name} differs from its DuckDB twin")
        rows, _s = self.timed("repeat", lambda: self.ops["firstphrases"](
            self.df).collect())
        if rows is not None:
            self.check(sorted(tuple(r) for r in rows)
                       == self.first.get("firstphrases"),
                       "firstphrases changed on repeat")

    def input_sizes(self):
        return {"docs": self.N_DOCS, "text_bytes": self.text_bytes,
                "operators": len(self.ops)}

    def named_metrics(self):
        return {"keyphrase_docs_per_s": self.throughput(),
                "operator_s": self.op_s}


def _same_rows(got: list[tuple], want: list[tuple]) -> bool:
    """Equal row lists; floats equal within rounding to 6 decimals."""
    return len(got) == len(want) and all(
        len(a) == len(b) and all(
            abs(x - y) <= 1e-6 if isinstance(x, float) else x == y
            for x, y in zip(a, b))
        for a, b in zip(got, want))


def make(name: str, spark, seed: int, work: str) -> Workload:
    return {"index": Index, "keyphrase": Keyphrase}[name](spark, seed, work)
