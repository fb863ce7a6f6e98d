"""Positional sidecar index: the ``.pos`` stream of this engine.

Lucene stores term positions in a dedicated file (``.pos``) beside the
doc/freq postings; phrase and proximity queries read it, everything else
never touches it. This module is that sidecar for the LSM index: a
separate fragment table holding, per (term, shard), block-compressed
(doc gaps, tfs, position deltas) — the main postings (build.py) stay
byte-identical whether or not a sidecar exists, so nothing about the
scaling-tuned build paths changes.

Layout mirrors the main index's invariants:

- fragments are ADDITIVE rows per (term, shard): each doc's positions
  for a term live in exactly one fragment (a doc is one input row, so
  it is wholly inside one Arrow batch, which emits at most one fragment
  per term);
- fragments are salted by ``xxhash64(term, first_doc) % n_salts`` — a
  mega-term's fragments spread over n_salts shards with no hot-term
  detection pass, cold terms stay within <= n_salts row groups so
  term-pushdown pruning holds on the read side;
- the directory is versioned (``positions_<uuid>``) behind an atomic
  ``POSITIONS_CURRENT`` pointer swap: a crash mid-rebuild never leaves
  a half-written sidecar visible.

Build is ONE job shaped like ``build_index_direct``: a single composed
mapInArrow pass does tokenize -> per-doc position extraction -> batch
sort -> block encode, and the only shuffle carries COMPRESSED fragments
(at web scale the position stream is the bulk of an index — Lucene's
``.pos`` is routinely 2-3x ``.doc`` — so shuffling it encoded, not as
raw (doc, term, pos) rows, is the difference between shipping ~1 byte
and ~20 bytes per token).

Position encoding per block: positions are concatenated across the
block's docs in doc order; within a doc they are strictly increasing,
so they are delta-encoded (first position of each doc absolute, the
rest gaps) and the per-doc boundaries are implied by the block's tf
stream (doc i contributes exactly tf_i values). Every block of an
Arrow batch is encoded by one ``codec.encode_streams`` call
(``encode_pos_block_list``) and decoded by one segmented decode
(``decode_pos_blocks``), whose positions come back by a segmented
cumulative sum — no Python object per block, doc or position.

Query semantics are defined (and oracle-gated) in ``pke_spark.ops
.phrase``; the indexed scorers here decode only the queried terms'
fragments (parquet term-pushdown) and feed the identical downstream
plan, so the two paths are parity-testable row-for-row.
"""

from __future__ import annotations

import os
import uuid

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (ArrayType, BinaryType, IntegerType, LongType,
                               StringType, StructField, StructType)

from . import codec
from ..rows import rows_df

POS_BLOCK_STRUCT = StructType([
    StructField("first_doc", LongType()),
    StructField("last_doc", LongType()),
    StructField("n", IntegerType()),
    StructField("docs", BinaryType()),
    StructField("tfs", BinaryType()),
    StructField("poss", BinaryType()),
])

POSITIONS_SCHEMA = StructType([
    StructField("term", StringType()),
    StructField("shard", IntegerType()),
    StructField("df", LongType()),
    StructField("blocks", ArrayType(POS_BLOCK_STRUCT)),
])

_POINTER = "POSITIONS_CURRENT"


def positions_dir(index_dir: str) -> str:
    """Resolve the CURRENT positions sidecar directory (pointer file,
    same protocol as build.postings_path)."""
    cur = f"{index_dir}/{_POINTER}"
    if os.path.exists(cur):
        with open(cur) as f:
            return f"{index_dir}/{f.read().strip()}"
    return f"{index_dir}/positions"


def has_positions(index_dir: str) -> bool:
    return os.path.exists(positions_dir(index_dir))


def swap_positions(index_dir: str, new_name: str) -> None:
    """Atomically point the sidecar at ``index_dir/new_name``, then
    best-effort delete the previous directory."""
    import shutil
    old = positions_dir(index_dir)
    tmp = f"{index_dir}/{_POINTER}.tmp"
    with open(tmp, "w") as f:
        f.write(new_name)
    os.replace(tmp, f"{index_dir}/{_POINTER}")
    if os.path.abspath(old) != os.path.abspath(f"{index_dir}/{new_name}"):
        shutil.rmtree(old, ignore_errors=True)


# ------------------------------------------------------------------ build

POS_FIELDS = ("first_doc", "last_doc", "n", "docs", "tfs", "poss")


def encode_pos_block_list(group_offsets: np.ndarray, doc: np.ndarray,
                          tf: np.ndarray, pos: np.ndarray,
                          block_size: int):
    """Positional posting groups -> the sidecar's ``blocks`` column
    (Arrow ``list<struct<first_doc, last_doc, n, docs, tfs, poss>>``,
    one list per group), every block of the batch encoded by one
    ``codec.encode_streams`` call. Docs ascend within each group
    (``group_offsets`` tile the postings); posting ``i`` owns ``tf[i]``
    positions of the flat, doc-ordered ``pos``."""
    import pyarrow as pa
    doc = np.asarray(doc, dtype=np.int64)
    tf = np.asarray(tf, dtype=np.int64)
    p = np.asarray(pos, dtype=np.int64)
    bstart, bend, list_offs = codec.block_layout(group_offsets, block_size)
    bounds = codec.excl_cumsum(tf)
    delta = p.copy()
    delta[1:] -= p[:-1]
    delta[bounds[:-1]] = p[bounds[:-1]]  # per-doc first position absolute
    bnd = np.append(bstart, len(doc))
    docs_b, tfs_b, poss_b = codec.encode_stream_fields([
        codec.doc_gaps(doc, bstart, bend), (tf, bnd),
        (delta.astype(np.uint64), bounds[bnd])])
    struct = pa.StructArray.from_arrays([
        pa.array(doc[bstart], pa.int64()),
        pa.array(doc[bend - 1], pa.int64()),
        pa.array((bend - bstart).astype(np.int32), pa.int32()),
        docs_b, tfs_b, poss_b], names=list(POS_FIELDS))
    return pa.ListArray.from_arrays(
        pa.array(list_offs.astype(np.int32), pa.int32()), struct)


def decode_pos_blocks(blocks) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Any number of positional blocks (Arrow array or a sequence of
    block dicts/Rows) -> (doc_ids, tfs, positions flat in doc order),
    concatenated in block order by one segmented decode per stream
    family. Positions are re-anchored by a segmented cumulative sum at
    each doc's first (absolute) position — no per-position Python."""
    if blocks is None or len(blocks) == 0:
        z = np.empty(0, np.int64)
        return z, z, z
    c = codec.block_columns(blocks, ("first_doc", "n", "docs", "tfs",
                                     "poss"))
    n = c["n"]
    docs = codec.decode_doc_ids(c["first_doc"], n, c["docs"])
    tfs = codec.decode_streams(*c["tfs"], n).astype(np.int64)
    npos = codec.seg_sum(tfs, codec.excl_cumsum(n))
    delta = codec.decode_streams(*c["poss"], npos).astype(np.int64)
    cs = np.cumsum(delta)
    starts = codec.excl_cumsum(tfs)[:-1]
    return docs, tfs, cs - np.repeat(cs[starts] - delta[starts], tfs)


def _positions_batch(terms, shard, group_offsets, doc, tf, pos,
                     block_size: int):
    """POSITIONS_SCHEMA record batch for doc-sorted positional groups."""
    import pyarrow as pa
    return pa.RecordBatch.from_arrays([
        terms.cast(pa.string()),
        pa.array(np.asarray(shard).astype(np.int32), pa.int32()),
        pa.array(np.diff(group_offsets).astype(np.int64), pa.int64()),
        encode_pos_block_list(group_offsets, doc, tf, pos, block_size),
    ], names=["term", "shard", "df", "blocks"])


def _fused_positions_pipe(batch_iter, block_size: int, profile: str):
    """documents batches -> encoded positional fragments, one pass.

    tokenize (pyarrow RE2 kernels, the Arrow lockstep impl) -> per-token
    1-based position within its doc -> stable lexsort to (term, doc)
    runs (positions stay ascending inside each run) -> one
    ``encode_pos_block_list`` call per batch. No Python object per
    token, posting, block or term.
    """
    import pyarrow as pa
    from ..tokenizer import arrow_tokenize_batch

    for batch in batch_iter:
        nrows = batch.num_rows
        if nrows == 0:
            continue
        with_idx = pa.record_batch(
            [pa.array(np.arange(nrows), pa.int64()), batch.column("text")],
            names=["__rowidx", "text"])
        tok = arrow_tokenize_batch(with_idx, "text", "__rowidx",
                                   profile=profile)
        ridx = tok.column("doc_id").to_numpy(zero_copy_only=False)
        if len(ridx) == 0:
            continue
        enc = tok.column("term").dictionary_encode()
        tcode = enc.indices.to_numpy(zero_copy_only=False)
        # 1-based token position within each doc (ridx is non-decreasing
        # in flatten order)
        doc_change = np.empty(len(ridx), dtype=bool)
        doc_change[0] = True
        doc_change[1:] = ridx[1:] != ridx[:-1]
        doc_starts = np.flatnonzero(doc_change)
        doc_lens = np.diff(np.append(doc_starts, len(ridx)))
        pos = (np.arange(len(ridx), dtype=np.int64)
               - np.repeat(doc_starts, doc_lens) + 1)
        doc_ids = batch.column("doc_id").to_numpy(zero_copy_only=False)
        docs_tok = doc_ids[ridx]
        # (term, doc) runs; stable sort keeps positions ascending per run
        order = np.lexsort((docs_tok, tcode))
        tc_s, doc_s, pos_s = tcode[order], docs_tok[order], pos[order]
        run = np.empty(len(order), dtype=bool)
        run[0] = True
        run[1:] = (tc_s[1:] != tc_s[:-1]) | (doc_s[1:] != doc_s[:-1])
        rstarts = np.flatnonzero(run)
        tf_run = np.diff(np.append(rstarts, len(order)))
        term_run = tc_s[rstarts]
        # term fragments: consecutive runs sharing a term code
        tchange = np.empty(len(rstarts), dtype=bool)
        tchange[0] = True
        tchange[1:] = term_run[1:] != term_run[:-1]
        fstarts = np.flatnonzero(tchange)
        yield _positions_batch(
            enc.dictionary.take(pa.array(term_run[fstarts])),
            np.zeros(len(fstarts)), np.append(fstarts, len(rstarts)),
            doc_s[rstarts], tf_run, pos_s, block_size)


def build_positions(docs: DataFrame, index_dir: str, *,
                    n_salts: int = 8,
                    block_size: int = codec.BLOCK_SIZE,
                    profile: str = "code") -> str:
    """Build the positional sidecar under ``index_dir`` from
    ``docs(doc_id, text)``. One job: composed tokenize+encode pass
    (shuffle-free), then a single shuffle of compressed fragments
    co-located by (term, shard), then the atomic pointer swap.
    Returns the new directory name."""
    os.makedirs(index_dir, exist_ok=True)
    new_name = f"positions_{uuid.uuid4().hex[:12]}"
    out = f"{index_dir}/{new_name}"
    runs = docs.select("doc_id", "text").mapInArrow(
        lambda it: _fused_positions_pipe(it, block_size, profile),
        POSITIONS_SCHEMA)
    frag_key = F.xxhash64("term", F.element_at("blocks", 1)["first_doc"])
    salted = runs.withColumn(
        "shard", F.pmod(frag_key, F.lit(n_salts)).cast("int"))
    salted.repartition("term", "shard").write.mode("overwrite").parquet(out)
    swap_positions(index_dir, new_name)
    return new_name


def append_positions(docs_new: DataFrame, index_dir: str, *,
                     n_salts: int = 8,
                     block_size: int = codec.BLOCK_SIZE,
                     profile: str = "code") -> None:
    """Incremental sidecar growth: encode ONLY the new docs and append
    their fragments to the current sidecar directory (O(new docs), not
    O(corpus) — the positional mirror of the LSM incremental fold).

    Sound because fragments are additive per (term, shard) and every
    doc's positions live wholly in its own new fragment; the same
    sparse-new-ids contract as ``streaming._incremental_fold`` applies
    (re-appending an existing doc_id would double-count — deduplicate
    upstream). Spark's parquet commit protocol stages files under
    ``_temporary`` and renames on job commit, so a crashed append leaves
    no partial fragment visible."""
    cur = positions_dir(index_dir)
    if not os.path.exists(cur):
        build_positions(docs_new, index_dir, n_salts=n_salts,
                        block_size=block_size, profile=profile)
        return
    runs = docs_new.select("doc_id", "text").mapInArrow(
        lambda it: _fused_positions_pipe(it, block_size, profile),
        POSITIONS_SCHEMA)
    frag_key = F.xxhash64("term", F.element_at("blocks", 1)["first_doc"])
    salted = runs.withColumn(
        "shard", F.pmod(frag_key, F.lit(n_salts)).cast("int"))
    salted.repartition("term", "shard").write.mode("append").parquet(cur)


def compact_positions(spark: SparkSession, index_dir: str, *,
                      block_size: int = codec.BLOCK_SIZE,
                      max_merge_docs: int = 5_000_000) -> None:
    """Offline sidecar compaction (the LSM merge step, as in
    ``build.compact``): co-locate each (term, shard)'s fragments and
    merge them into one doc-sorted fragment, so a long-appended sidecar
    reads like a fresh build. Per Arrow batch: one decode of every
    fragment to merge, one lexsort by (group, doc) that carries each
    doc's positions along, one encode. Groups whose merged df would exceed
    ``max_merge_docs`` pass through unmerged (fragments stay valid —
    every consumer treats rows additively). New versioned dir + atomic
    pointer swap; crash-safe like every other rewrite in this engine."""
    cur = positions_dir(index_dir)
    new_name = f"positions_{uuid.uuid4().hex[:12]}"
    out = f"{index_dir}/{new_name}"

    def merge(batch_iter):
        import pyarrow as pa
        from .build import _merge_groups
        for batch in batch_iter:
            plan = _merge_groups(batch, ["term", "shard", "df", "blocks"],
                                 by_shard=True, max_merge_docs=max_merge_docs)
            if plan is None:
                continue
            keep, rows, gid, first_row = plan
            if keep is not None:
                yield keep
            if not len(rows):
                continue
            blocks = batch.column("blocks").take(pa.array(rows))
            d, tf, p = decode_pos_blocks(blocks.flatten())
            # postings reorder by (group, doc); each posting's positions
            # move with it as one slice of the flat stream
            row_of = np.repeat(gid[rows], codec.list_row_counts(blocks))
            order = np.lexsort((d, row_of))
            p = p[codec.ranges(codec.excl_cumsum(tf)[order], tf[order])]
            starts = np.flatnonzero(np.diff(row_of[order], prepend=-1))
            yield _positions_batch(
                batch.column("term").take(pa.array(first_row)),
                batch.column("shard").to_numpy(
                    zero_copy_only=False)[first_row],
                np.append(starts, len(order)), d[order], tf[order], p,
                block_size)

    (spark.read.parquet(cur)
     .repartition("term", "shard")
     .sortWithinPartitions("term", "shard")
     .mapInArrow(merge, POSITIONS_SCHEMA)
     .write.mode("overwrite").parquet(out))
    swap_positions(index_dir, new_name)


# ------------------------------------------------------------------ query

def term_positions(spark: SparkSession, index_dir: str,
                   terms: list[str], doc_ids=None) -> DataFrame:
    """Decode the sidecar for exactly ``terms`` -> (doc_id, pos, term),
    the same shape as ``tokenizer.tokens_exploded`` restricted to those
    terms. The parquet scan prunes on the term predicate (fragments are
    term-clustered by the build's repartition); only queried terms'
    blocks are ever decoded.

    ``doc_ids`` (optional, small — e.g. a top-k hit list) prunes INSIDE
    the decode: blocks whose [first_doc, last_doc] range misses the set
    are skipped without decoding (a filter above mapInPandas could not
    push through the UDF boundary, so a hot term would otherwise emit
    its full corpus-wide position stream to highlight 10 docs)."""
    frags = (spark.read.parquet(positions_dir(index_dir))
             .where(F.col("term").isin(list(set(terms))))
             .select("term", "blocks"))
    wanted = (np.unique(np.asarray(list(doc_ids), dtype=np.int64))
              if doc_ids is not None else None)
    w_bc = (spark.sparkContext.broadcast(wanted)
            if wanted is not None else None)

    def decode(batch_iter):
        import pyarrow as pa
        w = w_bc.value if w_bc is not None else None
        for batch in batch_iter:
            blocks = batch.column("blocks")
            flat = blocks.flatten()
            lo = blocks.offsets.to_numpy().astype(np.int64)
            row_blk = np.repeat(np.arange(batch.num_rows), np.diff(lo))
            if w is not None and not len(w):
                continue
            if w is not None and len(flat):
                # skip blocks whose [first_doc, last_doc] range holds
                # no wanted doc, before decoding anything
                c = codec.block_columns(flat, ("first_doc", "last_doc"))
                at = np.minimum(np.searchsorted(w, c["first_doc"]),
                                len(w) - 1)
                hit = np.flatnonzero((w[at] >= c["first_doc"])
                                     & (w[at] <= c["last_doc"]))
                flat = flat.take(pa.array(hit))
                row_blk = row_blk[hit]
            if not len(flat):
                continue
            d, tfs, p = decode_pos_blocks(flat)
            row = np.repeat(row_blk, codec.block_columns(flat, ("n",))["n"])
            if w is not None:
                m = np.isin(d, w)
                p = p[np.repeat(m, tfs)]  # flat-pos mask first
                d, tfs, row = d[m], tfs[m], row[m]
            yield pa.RecordBatch.from_arrays([
                pa.array(np.repeat(d, tfs), pa.int64()),
                pa.array(p.astype(np.int32), pa.int32()),
                batch.column("term").take(pa.array(np.repeat(row, tfs)))
                .cast(pa.string())], names=["doc_id", "pos", "term"])

    return frags.mapInArrow(decode, "doc_id long, pos int, term string")


def _exclude(df: DataFrame, exclude_doc_ids) -> DataFrame:
    if exclude_doc_ids is None or len(exclude_doc_ids) == 0:
        return df
    spark = df.sparkSession
    ex = rows_df(spark, [(int(d),) for d in exclude_doc_ids],
                 "doc_id long")
    return df.join(F.broadcast(ex), "doc_id", "left_anti")


def phrase_topk_indexed(spark: SparkSession, index_dir: str,
                        terms: list[str], k: int = 10,
                        exclude_doc_ids=None) -> DataFrame:
    """Index-backed exact-phrase top-k; row-for-row equal to
    ``ops.phrase.phrase_topk`` over the same corpus (parity-tested).
    ``exclude_doc_ids``: raw doc ids to drop (tombstones — see
    ``tombstoned_doc_ids``)."""
    from ..ops.phrase import phrase_from_positions
    pos = _exclude(term_positions(spark, index_dir, terms), exclude_doc_ids)
    return phrase_from_positions(pos, terms, k)


def proximity_topk_indexed(spark: SparkSession, index_dir: str,
                           term_a: str, term_b: str, window: int = 5,
                           k: int = 10, exclude_doc_ids=None) -> DataFrame:
    from ..ops.phrase import proximity_from_positions
    pos = _exclude(term_positions(spark, index_dir, [term_a, term_b]),
                   exclude_doc_ids)
    return proximity_from_positions(pos, term_a, term_b, window, k)


def tombstoned_doc_ids(spark: SparkSession, index_dir: str) -> np.ndarray:
    """The main index's tombstones as RAW doc ids (the sidecar stores
    raw ids, so dense indexes' ordinal-space pids are translated back
    through the docmap)."""
    from .build import docmap_path, postings_path
    from .delete import load_tombstones
    pids = load_tombstones(index_dir)
    if len(pids) == 0:
        return pids
    dm = docmap_path(postings_path(index_dir))
    if not os.path.exists(dm):
        return pids  # sparse index: pids ARE doc ids
    import pyarrow.parquet as pq
    t = pq.read_table(dm, columns=["ord", "doc_id"])
    ords = t.column("ord").to_numpy()
    ids = t.column("doc_id").to_numpy()
    sel = np.isin(ords, pids)
    return np.sort(ids[sel].astype(np.int64))
