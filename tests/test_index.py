"""Index round-trip (FIXTURES.md F5), codec property tests,
resumability (F7), salted-merge invariance, and WAND score-exactness
vs the exhaustive scorer (SURVEY §7.2 M2/M3)."""

from __future__ import annotations

import shutil

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from pke_spark import oracle
from pke_spark.corpus import synth_corpus, with_doc_ids
from pke_spark.index import codec
from pke_spark.index.build import IndexReader, build_index, compact
from pke_spark.index.wand import bm25_indexed, wand_topk
from pke_spark.ops import core

N_DOCS = 150


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    c = with_doc_ids(synth_corpus(spark, N_DOCS, partitions=4))
    docs = c.select("doc_id", c.content.alias("text")).cache()
    pdf = docs.toPandas()
    return docs, dict(zip(pdf.doc_id, pdf.text))


@pytest.fixture(scope="module")
def index_dir(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ix"))
    docs, _ = corpus
    build_index(docs, d, n_parts=4, n_salts=4, hot_threshold=50,
                block_size=32)
    return d


def test_codec_roundtrip_random():
    rng = np.random.default_rng(7)
    for _ in range(10):
        docs = np.unique(rng.integers(-2**62, 2**62, 300).astype(np.int64))
        tfs = rng.integers(1, 99, len(docs)).astype(np.int64)
        dls = rng.integers(1, 9999, len(docs)).astype(np.int64)
        blocks = codec.encode_blocks(docs, tfs, dls, block_size=17)
        d2, t2, l2 = codec.decode_blocks(blocks)
        assert np.array_equal(d2, docs)
        assert np.array_equal(t2, tfs)
        assert np.array_equal(l2, dls)


def test_index_postings_equal_bruteforce(corpus, spark, index_dir):
    """Index build -> decode -> equals brute-force oracle postings."""
    _, texts = corpus
    ix = IndexReader(spark, index_dir)
    rows = ix.postings().collect()
    got = []
    for r in rows:
        docs, tfs, _ = codec.decode_blocks(r.blocks)
        got += [(r.term, int(d), int(t)) for d, t in zip(docs, tfs)]
    got_df = pd.DataFrame(sorted(got), columns=["term", "doc_id", "tf"])
    want = oracle.postings(texts)
    pd.testing.assert_frame_equal(got_df.reset_index(drop=True), want)


def test_index_stats(corpus, spark, index_dir):
    _, texts = corpus
    ix = IndexReader(spark, index_dir)
    assert ix.n_docs == len(texts)
    _, _, dls, _, avgdl = oracle.build_stats(texts)
    assert abs(ix.avgdl - avgdl) < 1e-9


def test_hot_terms_salted(spark, index_dir):
    """Hot terms ('def'-class, df >= threshold) must be sharded."""
    ix = IndexReader(spark, index_dir)
    p = ix.postings().toPandas()
    hot = p.groupby("term")["df"].sum()
    assert (p[p.term == "return"]["shard"].nunique() > 1), \
        f"'return' df={hot.get('return')} should be salted"
    # shards of a term are doc-disjoint
    seen = {}
    for _, r in p[p.term == "return"].iterrows():
        docs, _, _ = codec.decode_blocks(r.blocks)
        for d in docs:
            assert d not in seen
            seen[d] = True


QUERIES = [["build", "index"], ["def"], ["return"], ["uniq", "tok", "7"],
           ["decode", "varint", "cursor"], ["pack", "probe"],
           ["nosuchtermxyz"], ["def", "nosuchtermxyz"]]


def test_bm25_indexed_matches_oracle(corpus, spark, index_dir):
    _, texts = corpus
    ix = IndexReader(spark, index_dir)
    for q in QUERIES:
        got = bm25_indexed(ix, q, 10).toPandas()
        want = oracle.bm25_topk(texts, q, 10)
        pd.testing.assert_frame_equal(
            got.astype({"rank": "int64"}), want.astype({"rank": "int64"}),
            check_exact=False, atol=1e-9, obj=f"q={q}")


def test_wand_matches_oracle(corpus, spark, index_dir):
    """Both execution paths — the distributed block-max scorer and the
    driver serving fast path — must equal the pure-pandas oracle."""
    _, texts = corpus
    ix = IndexReader(spark, index_dir)
    for q in QUERIES:
        want = oracle.bm25_topk(texts, q, 10)
        for fastpath in (False, True):
            got = wand_topk(ix, q, 10, n_buckets=8,
                            driver_fastpath=fastpath).toPandas()
            pd.testing.assert_frame_equal(
                got.astype({"rank": "int64"}), want.astype({"rank": "int64"}),
                check_exact=False, atol=1e-9, obj=f"q={q} fast={fastpath}")


def test_compact_preserves_results(corpus, spark, index_dir, tmp_path):
    _, texts = corpus
    d2 = str(tmp_path / "ix2")
    shutil.copytree(index_dir, d2)
    compact(spark, d2)
    ix = IndexReader(spark, d2)
    p = ix.postings().toPandas()
    # all small-enough terms merged to one row
    assert (p.groupby("term").size() == 1).all()
    for q in QUERIES[:4]:
        got = wand_topk(ix, q, 10, n_buckets=8).toPandas()
        want = oracle.bm25_topk(texts, q, 10)
        pd.testing.assert_frame_equal(
            got.astype({"rank": "int64"}), want.astype({"rank": "int64"}),
            check_exact=False, atol=1e-9, obj=f"q={q}")


def test_resume_equals_single_run(corpus, spark, tmp_path):
    """Kill after 2 of 4 parts, resume, final index equals full build."""
    docs, texts = corpus
    d = str(tmp_path / "ix_resume")
    with pytest.raises(RuntimeError, match="simulated crash"):
        build_index(docs, d, n_parts=4, n_salts=4, hot_threshold=50,
                    block_size=32, fail_after_parts=2)
    # resume completes the remaining parts only
    build_index(docs, d, n_parts=4, n_salts=4, hot_threshold=50,
                block_size=32, resume=True)
    ix = IndexReader(spark, d)
    rows = ix.postings().collect()
    got = []
    for r in rows:
        ds, ts, _ = codec.decode_blocks(r.blocks)
        got += [(r.term, int(a), int(b)) for a, b in zip(ds, ts)]
    want = oracle.postings(texts)
    pd.testing.assert_frame_equal(
        pd.DataFrame(sorted(got), columns=["term", "doc_id", "tf"]), want)
    # manifest recorded exactly 4 segment completions
    from pke_spark.index.build import read_manifest
    m = read_manifest(spark, d).toPandas()
    segs = m[(m.phase == "segment") & (m.status == "done")]
    assert sorted(segs.part.tolist()) == [0, 1, 2, 3]


def test_salting_invariance(corpus, spark, tmp_path):
    """Scores identical with salting effectively on vs off (SURVEY §5)."""
    docs, texts = corpus
    d1 = str(tmp_path / "ix_salt")
    build_index(docs, d1, n_parts=2, n_salts=8, hot_threshold=10,
                block_size=16)
    ix = IndexReader(spark, d1)
    for q in (["def"], ["build", "index"]):
        got = wand_topk(ix, q, 10, n_buckets=4).toPandas()
        want = oracle.bm25_topk(texts, q, 10)
        pd.testing.assert_frame_equal(
            got.astype({"rank": "int64"}), want.astype({"rank": "int64"}),
            check_exact=False, atol=1e-9, obj=f"q={q}")


def test_wand_random_queries_match_oracle(corpus, spark, index_dir):
    """Adversarial randomized queries: vocabulary draws of varying
    length (with repeats), unseen terms mixed in, and k values around
    the result-count boundary — both WAND execution paths vs the
    pure-pandas oracle."""
    import random

    _, texts = corpus
    ix = IndexReader(spark, index_dir)
    from pke_spark.tokenizer import tokenize_text
    vocab = sorted({t for txt in texts.values()
                    for t in tokenize_text(txt)})
    rnd = random.Random(20260817)
    cases = []
    for _ in range(12):
        n_terms = rnd.randint(1, 5)
        q = [rnd.choice(vocab) for _ in range(n_terms)]
        if rnd.random() < 0.4:
            q.append(f"zz_unseen_{rnd.randint(0, 9)}")
        if rnd.random() < 0.3:
            q.append(q[0])  # duplicate query term
        cases.append((q, rnd.choice([1, 3, 10, 200])))
    cases.append((["zz_total_miss"], 10))
    for q, k in cases:
        want = oracle.bm25_topk(texts, q, k)
        for fastpath in (False, True):
            got = wand_topk(ix, q, k, n_buckets=8,
                            driver_fastpath=fastpath).toPandas()
            pd.testing.assert_frame_equal(
                got.astype({"rank": "int64"}), want.astype({"rank": "int64"}),
                check_exact=False, atol=1e-9, obj=f"q={q} k={k} fast={fastpath}")


@pytest.fixture(scope="module")
def dense_index_dir(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ix_dense"))
    docs, _ = corpus
    build_index(docs, d, n_parts=4, n_salts=4, dense_doc_ids=True,
                hot_threshold=50, block_size=32)
    return d


def test_dense_index_matches_sparse(corpus, spark, index_dir,
                                    dense_index_dir):
    """Dense-ordinal encoding is a pure physical-layout change: every
    scorer (exhaustive indexed, WAND distributed, WAND driver fast
    path) must return byte-identical (rank, doc_id, score) rows, BOTH
    vs the pandas oracle and vs the sparse index directly."""
    _, texts = corpus
    ix_s = IndexReader(spark, index_dir)
    ix_d = IndexReader(spark, dense_index_dir)
    assert ix_d.dense and not ix_s.dense
    for q in QUERIES + [["zz_unseen"]]:
        want = oracle.bm25_topk(texts, q, 10)
        sparse_got = wand_topk(ix_s, q, 10, n_buckets=8).toPandas()
        pd.testing.assert_frame_equal(
            sparse_got.astype({"rank": "int64"}),
            want.astype({"rank": "int64"}),
            check_exact=False, atol=1e-9, obj=f"sparse q={q}")
        got_ex = bm25_indexed(ix_d, q, 10).toPandas()
        pd.testing.assert_frame_equal(
            got_ex.astype({"rank": "int64"}), want.astype({"rank": "int64"}),
            check_exact=False, atol=1e-9, obj=f"bm25 q={q}")
        for fastpath in (False, True):
            got = wand_topk(ix_d, q, 10, n_buckets=8,
                            driver_fastpath=fastpath).toPandas()
            pd.testing.assert_frame_equal(
                got.astype({"rank": "int64"}), want.astype({"rank": "int64"}),
                check_exact=False, atol=1e-9, obj=f"q={q} fast={fastpath}")


def test_dense_index_is_smaller(spark, index_dir, dense_index_dir):
    """The point of dense ordinals: postings delta-encode small ints
    instead of random 64-bit hashes."""
    from pke_spark.index.build import _dir_bytes
    sparse = _dir_bytes(f"{index_dir}/postings")
    dense = _dir_bytes(f"{dense_index_dir}/postings")
    assert dense < sparse * 0.8, (dense, sparse)


def test_dense_docmap_is_dense_and_sorted(spark, corpus, dense_index_dir):
    docs, _ = corpus
    from pke_spark.index.build import docmap_path, postings_path
    dm = spark.read.parquet(
        docmap_path(postings_path(dense_index_dir))).toPandas()
    n = docs.count()
    assert sorted(dm["ord"]) == list(range(n))
    by_ord = dm.sort_values("ord")["doc_id"].to_numpy()
    assert (np.diff(by_ord) > 0).all()  # ord order == doc_id order


def test_compact_preserves_dense_results(corpus, spark, dense_index_dir,
                                         tmp_path):
    """compact() on a dense index carries the docmap to the new
    versioned postings; queries stay oracle-exact with raw doc_ids."""
    import shutil

    from pke_spark.index.build import compact

    _, texts = corpus
    d2 = str(tmp_path / "ix_dense_compact")
    shutil.copytree(dense_index_dir, d2)
    compact(spark, d2)
    ix = IndexReader(spark, d2)
    assert ix.dense
    for q in QUERIES[:2]:
        want = oracle.bm25_topk(texts, q, 10)
        for fastpath in (False, True):
            got = wand_topk(ix, q, 10, n_buckets=8,
                            driver_fastpath=fastpath).toPandas()
            pd.testing.assert_frame_equal(
                got.astype({"rank": "int64"}), want.astype({"rank": "int64"}),
                check_exact=False, atol=1e-9, obj=f"q={q} fast={fastpath}")


def test_dense_ordinals_over_budget_stats_path(corpus, spark, tmp_path):
    """driver_stats_max_bytes=0 forces the big-corpus stats path, where
    the driver-side ordinal assignment collects its ids from the
    one-row-per-doc length table instead of the DuckDB segment scan —
    the docmap must be identically dense/sorted and queries stay
    oracle-exact."""
    from pke_spark.index.build import docmap_path, postings_path

    docs, texts = corpus
    d = str(tmp_path / "ix_dense_budget0")
    build_index(docs, d, n_parts=4, n_salts=4, dense_doc_ids=True,
                hot_threshold=50, block_size=32,
                driver_stats_max_bytes=0)
    dm = spark.read.parquet(docmap_path(postings_path(d))).toPandas()
    n = docs.count()
    assert sorted(dm["ord"]) == list(range(n))
    by_ord = dm.sort_values("ord")["doc_id"].to_numpy()
    assert (np.diff(by_ord) > 0).all()
    ix = IndexReader(spark, d)
    assert ix.dense
    for q in QUERIES[:2]:
        want = oracle.bm25_topk(texts, q, 10)
        got = wand_topk(ix, q, 10, n_buckets=8).toPandas()
        pd.testing.assert_frame_equal(
            got.astype({"rank": "int64"}), want.astype({"rank": "int64"}),
            check_exact=False, atol=1e-9, obj=f"q={q}")


def test_sparse_reencode_clears_stale_docmap(corpus, spark, tmp_path):
    """A sparse re-encode (e.g. resume with the default flag) over a
    previously-dense index must remove the docmap and update the stats
    flag — not leave readers translating raw ids as ordinals."""
    import os

    from pke_spark.index.build import docmap_path, postings_path

    docs, texts = corpus
    d = str(tmp_path / "ix_flagflip")
    build_index(docs, d, n_parts=4, n_salts=4, dense_doc_ids=True,
                hot_threshold=50, block_size=32)
    assert IndexReader(spark, d).dense
    build_index(docs, d, n_parts=4, n_salts=4, resume=True,
                hot_threshold=50, block_size=32)  # default: sparse
    assert not os.path.exists(docmap_path(postings_path(d)))
    ix = IndexReader(spark, d)
    assert not ix.dense
    q = QUERIES[0]
    got = wand_topk(ix, q, 10, n_buckets=8).toPandas()
    want = oracle.bm25_topk(texts, q, 10)
    pd.testing.assert_frame_equal(
        got.astype({"rank": "int64"}), want.astype({"rank": "int64"}),
        check_exact=False, atol=1e-9)


def test_lost_docmap_is_a_hard_error(corpus, spark, tmp_path):
    """stats.dense cross-check: a dense index whose docmap was lost
    (partial copy/restore) must refuse to serve, not return ordinals."""
    from pke_spark.index.build import docmap_path, postings_path

    docs, _ = corpus
    d = str(tmp_path / "ix_lostmap")
    build_index(docs, d, n_parts=4, n_salts=4, dense_doc_ids=True,
                hot_threshold=50, block_size=32)
    shutil.rmtree(docmap_path(postings_path(d)))
    with pytest.raises(RuntimeError, match="refusing"):
        IndexReader(spark, d).dense


@pytest.mark.parametrize("dense", [False, True])
def test_batch_topk_matches_per_query(corpus, spark, index_dir,
                                      dense_index_dir, dense):
    """bm25_topk_batch (one job for the whole query set) must equal the
    per-query scorers and the oracle for every query — including a
    query with only unseen terms (zero rows)."""
    from pke_spark.index.wand import bm25_topk_batch

    _, texts = corpus
    ix = IndexReader(spark, dense_index_dir if dense else index_dir)
    qset = {f"q{i}": q for i, q in enumerate(QUERIES)}
    qset["q_miss"] = ["zz_total_miss"]
    got = bm25_topk_batch(ix, qset, 10).toPandas()
    assert "q_miss" not in set(got["query_id"])
    for qid, q in qset.items():
        sub = (got[got.query_id == qid]
               .sort_values("rank")[["rank", "doc_id", "score"]]
               .reset_index(drop=True))
        want = oracle.bm25_topk(texts, q, 10)
        pd.testing.assert_frame_equal(
            sub.astype({"rank": "int64"}), want.astype({"rank": "int64"}),
            check_exact=False, atol=1e-9, obj=f"{qid} dense={dense}")


def test_search_native_equals_wand(corpus, spark, index_dir):
    """The serving-native search() (no DataFrame round-trip) must equal
    wand_topk on every query shape: dictionary-bounded (driver path),
    hot (distributed fallback via the forced small fastpath budget),
    and a miss (empty)."""
    from pke_spark.index import wand as W
    _, texts = corpus
    ix = IndexReader(spark, index_dir)
    for q in QUERIES:
        # NB: iterrows() would upcast int64 doc_ids to float64 and
        # corrupt low bits — collect Rows instead
        want = [(int(r.rank), int(r.doc_id), float(r.score))
                for r in wand_topk(ix, q, 10, n_buckets=8).collect()]
        got = W.search(ix, q, 10)
        assert got == want, q
    # force the distributed fallback branch
    old = W.DRIVER_FASTPATH_MAX_DF
    W.DRIVER_FASTPATH_MAX_DF = 0
    try:
        q = QUERIES[0]
        want = [(int(r.rank), int(r.doc_id), float(r.score))
                for r in wand_topk(ix, q, 10, n_buckets=8,
                                   driver_fastpath=False).collect()]
        assert W.search(ix, q, 10) == want
    finally:
        W.DRIVER_FASTPATH_MAX_DF = old
    assert W.search(ix, ["zzqqnosuchterm"], 10) == []


def test_merge_runs_eager_equals_default(corpus, spark, tmp_path):
    """encode_postings(merge_runs=True) (eager in-build merge) must
    produce the same decoded postings as the default fragment layout,
    with (mostly) one row per (term, shard)."""
    from pke_spark.index.build import build_index as bi
    docs, _ = corpus
    d_frag = str(tmp_path / "frag")
    d_merged = str(tmp_path / "merged")
    bi(docs, d_frag, n_parts=4, n_salts=4, hot_threshold=50, block_size=32)
    bi(docs, d_merged, n_parts=4, n_salts=4, hot_threshold=50,
       block_size=32, merge_runs=True)

    def decoded(d):
        rows = IndexReader(spark, d, cache=False).postings().collect()
        got = []
        for r in rows:
            ds, ts, ls = codec.decode_blocks(r.blocks)
            got += [(r.term, int(a), int(b), int(c))
                    for a, b, c in zip(ds, ts, ls)]
        return sorted(got)

    assert decoded(d_frag) == decoded(d_merged)
    frag_rows = IndexReader(spark, d_frag, cache=False).postings().count()
    merged_rows = IndexReader(spark, d_merged, cache=False).postings().count()
    assert merged_rows <= frag_rows


def test_compacted_rows_equal_scalar_encoding(corpus, spark, tmp_path):
    """compact() merges a term's fragments in one batched decode, one
    lexsort and one batched encode; every compacted row must carry
    exactly the blocks the scalar encoder gives its merged list."""
    docs, _ = corpus
    d = str(tmp_path / "ix")
    build_index(docs, d, n_parts=4, n_salts=4, hot_threshold=50,
                block_size=32)
    before = IndexReader(spark, d, cache=False).postings().collect()
    compact(spark, d, block_size=32)
    after = IndexReader(spark, d, cache=False).postings().collect()
    assert len(after) < len(before)
    merged = 0
    for r in after:
        ds, ts, ls = codec.decode_blocks(r.blocks)
        assert np.all(ds[1:] > ds[:-1])
        assert r.df == len(ds) and r.cf == int(ts.sum())
        if r.shard == 0:
            merged += 1
        got = [{k: bytes(v) if isinstance(v, bytearray) else v
                for k, v in b.asDict().items()} for b in r.blocks]
        assert got == codec.encode_blocks(ds, ts, ls, 32)
    assert merged > 0

    def postings(rows):
        got = []
        for r in rows:
            ds, ts, ls = codec.decode_blocks(r.blocks)
            got += [(r.term, int(a), int(b), int(c))
                    for a, b, c in zip(ds, ts, ls)]
        return sorted(got)

    assert postings(after) == postings(before)


def test_direct_build_equals_default(corpus, spark, tmp_path):
    """build_index_direct (single-pass, no segments) must produce
    byte-equivalent postings content and identical WAND results; a
    stream append + INCREMENTAL fold still works on it (full refresh
    correctly refuses)."""
    from pke_spark import streaming
    from pke_spark.index.build import build_index_direct

    docs, texts = corpus
    d_def = str(tmp_path / "def")
    d_dir = str(tmp_path / "dir")
    build_index(docs, d_def, n_parts=4, n_salts=4, hot_threshold=50,
                block_size=32)
    build_index_direct(docs, d_dir, n_salts=4, hot_threshold=50,
                       block_size=32)

    def decoded(d):
        rows = IndexReader(spark, d, cache=False).postings().collect()
        got = []
        for r in rows:
            ds, ts, ls = codec.decode_blocks(r.blocks)
            got += [(r.term, int(a), int(b), int(c))
                    for a, b, c in zip(ds, ts, ls)]
        return sorted(got)

    assert decoded(d_def) == decoded(d_dir)
    ia, ib = IndexReader(spark, d_def), IndexReader(spark, d_dir)
    assert ia.n_docs == ib.n_docs and abs(ia.avgdl - ib.avgdl) < 1e-9
    for q in (["build", "index"], ["def"]):
        a = wand_topk(ia, q, 10, n_buckets=8).toPandas()
        b = wand_topk(ib, q, 10, n_buckets=8).toPandas()
        pd.testing.assert_frame_equal(a, b)

    # full refresh refuses with a clear error; incremental fold works
    extra = docs.select((F.col("doc_id") + 1).alias("doc_id"), "text") \
        .limit(5)
    streaming.append_batch(extra, d_dir, epoch_id=0, n_parts=4)
    with pytest.raises(FileNotFoundError, match="build_index_direct"):
        streaming.refresh_postings(spark, d_dir, n_salts=4,
                                   block_size=32)
    streaming.refresh_postings(spark, d_dir, n_salts=4, block_size=32,
                               incremental=True)
    assert IndexReader(spark, d_dir).n_docs == ia.n_docs + 5


def test_decoded_postings_cache_serves_without_rereads(spark, index_dir):
    """Serving-path LRU: a repeated query must touch NO parquet at all
    the second time (both df and decoded-postings caches hit), and the
    row-bound eviction accounting must stay consistent."""
    from pke_spark.index.wand import search
    ix = IndexReader(spark, index_dir)
    q = ["def", "return", "core"]
    first = search(ix, q, 10)
    assert first

    class _Boom:
        def execute(self, *_a, **_k):
            raise AssertionError("parquet re-read on a fully cached query")

    saved = ix._duck
    ix._duck = _Boom()
    try:
        assert search(ix, q, 10) == first
    finally:
        ix._duck = saved

    # eviction: force a tiny row budget, then pull a disjoint term set;
    # accounting must match the cache's real content and stay bounded
    ix.POSTINGS_CACHE_MAX_ROWS = 1
    search(ix, ["import", "lib"], 10)
    assert ix._decoded_rows == sum(len(v[0]) for v in ix._decoded.values())
    assert len(ix._decoded) <= 3  # at most the last call's working set


def test_decoded_postings_eviction_never_drops_requested_terms(
        spark, index_dir):
    """Regression (found by the 2M-doc capacity bench): a query mixing
    an ALREADY-CACHED term with fresh terms whose fetch blows the row
    budget must not evict the cached term mid-call — every requested
    term must be present in the returned dict (the scorer KeyErrors
    otherwise)."""
    ix = IndexReader(spark, index_dir)
    ix.POSTINGS_CACHE_MAX_ROWS = 1  # every fetch overflows the budget
    ix.decoded_postings(["def"])    # 'def' now sits at the LRU front
    out = ix.decoded_postings(["def", "return", "core", "lib"])
    assert set(out) == {"def", "return", "core", "lib"}
    assert all(len(v) == 3 for v in out.values())
    # and the scorer path that crashed at capacity scale works
    from pke_spark.index.wand import search
    ix2 = IndexReader(spark, index_dir)
    ix2.POSTINGS_CACHE_MAX_ROWS = 1
    baseline = search(IndexReader(spark, index_dir), ["def"], 10)
    search(ix2, ["def"], 10)
    assert search(ix2, ["def", "return", "core", "lib"], 10)
    # cache thrash must not change results
    assert search(ix2, ["def"], 10) == baseline


def test_batch_topk_fast_equals_distributed(corpus, spark, index_dir,
                                            monkeypatch):
    """bm25_topk_batch's driver fast path must be row-identical to its
    distributed plan (same queries, bound forced to 0)."""
    from pke_spark.index import wand as W

    ix = IndexReader(spark, index_dir)
    qset = {f"q{i}": q for i, q in enumerate(QUERIES)}
    qset["q_miss"] = ["zz_total_miss"]

    def rows_of(df):
        return sorted((r.query_id, r.rank, r.doc_id, r.score)
                      for r in df.collect())

    fast = rows_of(W.bm25_topk_batch(ix, qset, 10))
    monkeypatch.setattr(W, "_fastpath_bound", lambda ix: 0)
    dist = rows_of(W.bm25_topk_batch(ix, qset, 10))
    assert fast == dist and len(fast) > 0
