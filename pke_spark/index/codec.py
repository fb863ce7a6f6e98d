"""Posting-list codec: sorted docIDs, delta-encoded, compressed in
fixed-size blocks carrying block-max tf statistics (SURVEY §4.3; the
distributed generalization of the reference's term->df TSV artifact,
pke/utils.py:126-139).

Each compressed value stream is TAGGED with a 1-byte codec id and the
encoder picks the cheaper of two codecs per stream:

- ``0x01`` LEB128 varint (byte-aligned; wins for tiny streams and
  wide-dynamic-range values), and
- ``0x02`` NewPFD-style PForDelta: all values bit-packed at a fixed
  width ``b`` chosen near the 90th-percentile bit length, with the
  few larger values patched as exceptions (position byte + varint
  high bits). Sub-byte widths are where the win is: dense-ordinal
  gaps and tfs are mostly 1-3 bits wide, which varint cannot encode
  in under 8.

The codec works on a whole Arrow batch at a time. ``encode_streams``
takes the concatenated values of many streams plus their offsets and
chooses and encodes every stream in one vectorized pass (segmented
reductions for the cost model, one varint sweep for all varint
streams, PFOR bit-packing per width group); ``encode_block_list``
cuts a batch's (group, doc, tf, dl) arrays into blocks and returns
the ``list<struct>`` blocks column as Arrow arrays built from offset
and data buffers, with no Python object per block. ``decode_blocks``
is the matching segmented decode over any number of blocks.
``encode_stream`` (one stream) is the scalar reference the batched
encoder is tested byte-for-byte against, and ``decode_block`` (one
block) serves WAND's block-skipping reads: one block or many selects
the decode path.

docIDs are signed int64 (xxhash64 output); we map them order-preservingly
to uint64 via XOR(1<<63) before delta encoding so deltas are small
non-negative gaps.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128
_SIGN = np.uint64(1 << 63)

TAG_VARINT = 0x01
TAG_PFOR = 0x02
# PFOR constraints: positions are 1 byte (block_size <= 256 in
# practice; bigger streams fall back to varint) and the packed width
# is capped so ``value >> b`` / mask shifts never hit the uint64 edge
_PFOR_MAX_N = 255
_PFOR_MAX_B = 56

# The scalar encoder tries the two PFOR widths in the iteration order
# of the set ``{b_max, b_p90}`` and keeps a later width only when it is
# strictly cheaper, so on a cost tie the width iterated FIRST wins.
# Tabulated once from the interpreter's own set order.
_SET_FIRST = np.array([[next(iter({a, b})) for b in range(_PFOR_MAX_B + 1)]
                       for a in range(_PFOR_MAX_B + 1)], dtype=np.int64)

POSTING_FIELDS = ("first_doc", "last_doc", "n", "max_tf",
                  "docs", "tfs", "dls")


def to_u64(doc_ids: np.ndarray) -> np.ndarray:
    """Order-preserving signed int64 -> uint64."""
    return doc_ids.astype(np.int64).view(np.uint64) ^ _SIGN


def from_u64(u: np.ndarray) -> np.ndarray:
    return (u ^ _SIGN).view(np.int64)


def excl_cumsum(x: np.ndarray) -> np.ndarray:
    """[0, x0, x0+x1, ...] as int64 (length len(x) + 1)."""
    out = np.zeros(len(x) + 1, dtype=np.int64)
    np.cumsum(x, out=out[1:])
    return out


def seg_sum(x: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Per-segment sums of ``x`` (segments given by offsets; empty
    segments sum to 0)."""
    cs = excl_cumsum(x)
    return cs[offsets[1:]] - cs[offsets[:-1]]


def ranges(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Concatenated index ranges [s, s + len) — the gather/scatter
    index of a segmented copy."""
    lens = np.asarray(lens, dtype=np.int64)
    base = np.asarray(starts, dtype=np.int64) - excl_cumsum(lens)[:-1]
    return np.repeat(base, lens) + np.arange(int(lens.sum()),
                                             dtype=np.int64)


def _varint_bytes(v: np.ndarray, nb: np.ndarray) -> np.ndarray:
    """LEB128 bytes of uint64 ``v`` (``nb`` bytes per value) as one
    uint8 array, values back to back (vectorized byte-plane sweep)."""
    pos = excl_cumsum(nb)
    out = np.empty(int(pos[-1]), dtype=np.uint8)
    if len(v) == 0:
        return out
    cur = v.astype(np.uint64, copy=True)
    for i in range(int(nb.max())):
        mask = nb > i
        b = (cur[mask] & np.uint64(0x7F)).astype(np.uint8)
        b[(nb[mask] - 1) > i] |= 0x80
        out[pos[:-1][mask] + i] = b
        cur >>= np.uint64(7)
    return out


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128 encode a uint64 array (vectorized byte-plane sweep)."""
    v = np.asarray(values, dtype=np.uint64)
    return _varint_bytes(v, np.maximum((_bitlen(v) + 6) // 7, 1)).tobytes()


def varint_decode(buf) -> np.ndarray:
    """LEB128 decode -> uint64 array (vectorized via reduceat)."""
    b = np.frombuffer(buf, dtype=np.uint8) if isinstance(buf, bytes) \
        else np.asarray(buf, dtype=np.uint8)
    if len(b) == 0:
        return np.empty(0, dtype=np.uint64)
    is_end = (b & 0x80) == 0
    starts = np.zeros(int(is_end.sum()), dtype=np.int64)
    ends = np.flatnonzero(is_end)
    starts[1:] = ends[:-1] + 1
    value_id = np.zeros(len(b), dtype=np.int64)
    value_id[starts[1:]] = 1
    np.cumsum(value_id, out=value_id)
    within = np.arange(len(b), dtype=np.int64) - starts[value_id]
    contrib = (b & 0x7F).astype(np.uint64) << (np.uint64(7) * within.astype(np.uint64))
    return np.add.reduceat(contrib, starts)


def _bitlen(v: np.ndarray) -> np.ndarray:
    """Exact bit length per uint64 value (log2 + two-sided correction
    for float rounding; values at/above 2^63 clamp to 64)."""
    bl = np.zeros(len(v), dtype=np.int64)
    m = v > 0
    if m.any():
        f = np.floor(np.log2(v[m].astype(np.float64))).astype(np.int64) + 1
        sh = np.minimum(f, 63).astype(np.uint64)
        f += ((v[m] >> sh) > 0) & (f < 64)
        f -= (v[m] >> np.maximum(f - 1, 0).astype(np.uint64)) == 0
        bl[m] = f
    return bl


def _pfor_cost(n: int, b: int, bl: np.ndarray) -> int:
    exc = bl > b
    if not exc.any():
        return 4 + (n * b + 7) // 8
    return (4 + (n * b + 7) // 8 + int(exc.sum())
            + int(((bl[exc] - b + 6) // 7).sum()))


def encode_stream(values: np.ndarray) -> bytes:
    """uint64 array -> tagged bytes, whichever of varint / PForDelta is
    smaller for THIS stream. Empty input -> b'' (callers key decode on
    the count, so no tag is needed). The scalar reference of
    ``encode_streams``."""
    v = np.asarray(values, dtype=np.uint64)
    n = len(v)
    if n == 0:
        return b""
    if n > _PFOR_MAX_N:
        return bytes([TAG_VARINT]) + varint_encode(v)
    bl = _bitlen(v)
    # costs are computed analytically so only the WINNING codec pays
    # its encode: varint is exactly max(1, ceil(bitlen/7)) bytes/value
    var_cost = 1 + int(np.maximum((bl + 6) // 7, 1).sum())
    # two candidate widths: max (no exceptions) and ~p90 (NewPFD)
    b_max = int(bl.max())
    k = (n - 1) * 9 // 10
    b_p90 = int(np.partition(bl, k)[k])
    best_b, best_cost = None, var_cost
    for b in {min(b_max, _PFOR_MAX_B), min(b_p90, _PFOR_MAX_B)}:
        c = _pfor_cost(n, b, bl)
        if c < best_cost:
            best_b, best_cost = b, c
    if best_b is None:
        return bytes([TAG_VARINT]) + varint_encode(v)
    b = best_b
    exc_idx = np.flatnonzero(bl > b)
    if b:
        mask = np.uint64((1 << b) - 1)
        low = v & mask
        bits = ((low[:, None] >> np.arange(b, dtype=np.uint64))
                & np.uint64(1)).astype(np.uint8)
        packed = np.packbits(bits, bitorder="little").tobytes()
    else:
        packed = b""
    head = bytes([TAG_PFOR, b, len(exc_idx) & 0xFF,
                  (len(exc_idx) >> 8) & 0xFF])
    exc_pos = exc_idx.astype(np.uint8).tobytes()
    exc_high = varint_encode(v[exc_idx] >> np.uint64(b)) if len(exc_idx) \
        else b""
    return head + exc_pos + packed + exc_high


def encode_streams(values: np.ndarray, offsets: np.ndarray
                   ) -> tuple[np.ndarray, np.ndarray]:
    """Many streams in one pass: stream ``s`` is
    ``values[offsets[s]:offsets[s + 1]]``. Returns ``(data, out_offsets)``
    where ``data[out_offsets[s]:out_offsets[s + 1]]`` is exactly
    ``encode_stream`` of stream ``s``.

    Every cost the scalar encoder computes per stream is a segmented
    reduction here: bit lengths and varint bytes per value, ``b_max``
    and ``b_p90`` read off one sort keyed by (stream, bit length), and
    the PFOR cost of both candidate widths; both codecs' encoded sizes
    equal their costs, so the output layout is known before any byte is
    written. Then all varint streams are encoded by one byte-plane
    sweep, PFOR streams are bit-packed per width group, and the
    exception high bits of every PFOR stream take one more sweep."""
    v = np.asarray(values, dtype=np.uint64)
    offs = np.asarray(offsets, dtype=np.int64)
    n = np.diff(offs)
    n_streams = len(n)
    sid = np.repeat(np.arange(n_streams, dtype=np.int64), n)
    bl = _bitlen(v)
    vb = np.maximum((bl + 6) // 7, 1)
    var_cost = 1 + seg_sum(vb, offs)

    # ---- codec choice for streams PFOR may encode (1 <= n <= 255)
    best = np.full(n_streams, -1, dtype=np.int64)       # -1: varint
    cost = np.where(n > 0, var_cost, 0)
    cand = np.flatnonzero((n > 0) & (n <= _PFOR_MAX_N))
    if len(cand):
        sorted_bl = np.sort(sid * 65 + bl) - sid * 65
        b_max = np.minimum(sorted_bl[offs[cand + 1] - 1], _PFOR_MAX_B)
        b_p90 = np.minimum(sorted_bl[offs[cand] + (n[cand] - 1) * 9 // 10],
                           _PFOR_MAX_B)
        first = _SET_FIRST[b_max, b_p90]
        second = b_max + b_p90 - first
        best_c = np.full(len(cand), -1, dtype=np.int64)
        best_cost = var_cost[cand]
        in_cand = np.zeros(n_streams, dtype=bool)
        in_cand[cand] = True
        el = in_cand[sid]
        c_offs = excl_cumsum(n[cand])
        for width in (first, second):
            wb = np.zeros(n_streams, dtype=np.int64)
            wb[cand] = width
            bw = wb[sid[el]]
            blc = bl[el]
            exc = blc > bw
            c = (4 + (n[cand] * width + 7) // 8 + seg_sum(exc, c_offs)
                 + seg_sum(np.where(exc, (blc - bw + 6) // 7, 0), c_offs))
            win = c < best_cost
            best_c[win] = width[win]
            best_cost = np.where(win, c, best_cost)
        best[cand] = best_c
        cost[cand] = best_cost

    out_offs = excl_cumsum(cost)
    out = np.zeros(int(out_offs[-1]), dtype=np.uint8)
    o = out_offs[:-1]

    # ---- varint streams: tag + one sweep over all their values
    is_var = (n > 0) & (best < 0)
    if is_var.any():
        out[o[is_var]] = TAG_VARINT
        ev = is_var[sid]
        out[ranges(o[is_var] + 1, cost[is_var] - 1)] = \
            _varint_bytes(v[ev], vb[ev])

    # ---- PFOR streams: header, exception positions, packed low
    # bits, exception high bits
    ps = np.flatnonzero(best >= 0)
    if len(ps):
        b = best[ps]
        in_p = np.zeros(n_streams, dtype=bool)
        in_p[ps] = True
        ep = np.flatnonzero(in_p[sid])             # PFOR value indices
        b_el = best[sid[ep]]
        exc = bl[ep] > b_el
        p_offs = excl_cumsum(n[ps])
        n_exc = seg_sum(exc, p_offs)
        out[o[ps]] = TAG_PFOR
        out[o[ps] + 1] = b
        out[o[ps] + 2] = n_exc & 0xFF
        out[o[ps] + 3] = n_exc >> 8
        # exception position bytes, in value order per stream
        pidx = np.repeat(np.arange(len(ps)), n[ps])    # PFOR stream idx
        xi = np.flatnonzero(exc)
        ce = excl_cumsum(exc)
        rank = ce[xi] - ce[p_offs[pidx[xi]]]
        within = xi - p_offs[pidx[xi]]
        out[o[ps][pidx[xi]] + 4 + rank] = within.astype(np.uint8)
        plen = (n[ps] * b + 7) // 8
        pstart = o[ps] + 4 + n_exc
        for w in np.unique(b[b > 0]):
            g = np.flatnonzero(b == w)
            gv = v[ep[ranges(p_offs[g], n[ps][g])]]
            m = len(gv)
            bits = np.empty((m, int(w)), dtype=np.uint8)
            for i in range(int(w)):
                bits[:, i] = (gv >> np.uint64(i)) & np.uint64(1)
            # pad every stream's bit string to a whole byte, then one
            # packbits yields the streams' packed bytes back to back
            nbits = n[ps][g] * w
            flat = np.zeros(int(plen[g].sum()) * 8, dtype=np.uint8)
            flat[ranges(8 * excl_cumsum(plen[g])[:-1], nbits)] = \
                bits.ravel()
            out[ranges(pstart[g], plen[g])] = np.packbits(
                flat, bitorder="little")
        if len(xi):
            high = v[ep[xi]] >> b_el[xi].astype(np.uint64)
            hb = (bl[ep[xi]] - b_el[xi] + 6) // 7
            hlen = seg_sum(hb, excl_cumsum(n_exc))
            out[ranges(pstart + plen, hlen)] = _varint_bytes(high, hb)
    return out, out_offs


def decode_stream(buf: bytes, n: int) -> np.ndarray:
    """Tagged bytes -> uint64 array of exactly ``n`` values."""
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    tag = buf[0]
    if tag == TAG_VARINT:
        return varint_decode(buf[1:])
    if tag != TAG_PFOR:
        raise ValueError(f"unknown stream codec tag {tag:#x}")
    b = buf[1]
    n_exc = buf[2] | (buf[3] << 8)
    pos_end = 4 + n_exc
    exc_pos = np.frombuffer(buf[4:pos_end], dtype=np.uint8)
    packed_len = (n * b + 7) // 8
    if b:
        bits = np.unpackbits(
            np.frombuffer(buf[pos_end:pos_end + packed_len], np.uint8),
            count=n * b, bitorder="little").reshape(n, b)
        v = (bits.astype(np.uint64)
             << np.arange(b, dtype=np.uint64)).sum(axis=1).astype(np.uint64)
    else:
        v = np.zeros(n, dtype=np.uint64)
    if n_exc:
        high = varint_decode(buf[pos_end + packed_len:])
        v[exc_pos] |= high << np.uint64(b)
    return v


def decode_streams(data: np.ndarray, offsets: np.ndarray,
                   counts: np.ndarray) -> np.ndarray:
    """Segmented inverse of ``encode_streams``: stream ``s`` is
    ``data[offsets[s]:offsets[s + 1]]`` holding ``counts[s]`` values;
    returns every stream's values concatenated (uint64). One sweep
    decodes all varint streams, PFOR low bits unpack per width group,
    and every exception is patched by one scatter."""
    data = np.asarray(data, dtype=np.uint8)
    offs = np.asarray(offsets, dtype=np.int64)
    n = np.asarray(counts, dtype=np.int64)
    v_offs = excl_cumsum(n)
    v = np.zeros(int(v_offs[-1]), dtype=np.uint64)
    live = n > 0
    tag = np.zeros(len(n), dtype=np.uint8)
    tag[live] = data[offs[:-1][live]]
    if np.any(live & (tag != TAG_VARINT) & (tag != TAG_PFOR)):
        bad = tag[live & (tag != TAG_VARINT) & (tag != TAG_PFOR)][0]
        raise ValueError(f"unknown stream codec tag {bad:#x}")
    var = np.flatnonzero(live & (tag == TAG_VARINT))
    if len(var):
        src = ranges(offs[var] + 1, offs[var + 1] - offs[var] - 1)
        v[ranges(v_offs[var], n[var])] = varint_decode(data[src])
    pf = np.flatnonzero(live & (tag == TAG_PFOR))
    if len(pf):
        o = offs[pf]
        b = data[o + 1].astype(np.int64)
        n_exc = data[o + 2].astype(np.int64) | (data[o + 3].astype(np.int64)
                                                << 8)
        npf = n[pf]
        plen = (npf * b + 7) // 8
        pstart = o + 4 + n_exc
        for w in np.unique(b[b > 0]):
            g = np.flatnonzero(b == w)
            bits = np.unpackbits(data[ranges(pstart[g], plen[g])],
                                 bitorder="little")
            m = npf[g]
            within = np.arange(int(m.sum()), dtype=np.int64) \
                - np.repeat(excl_cumsum(m)[:-1], m)
            base = np.repeat(8 * excl_cumsum(plen[g])[:-1], m) + within * w
            vals = np.zeros(len(base), dtype=np.uint64)
            for i in range(int(w)):
                vals |= bits[base + i].astype(np.uint64) << np.uint64(i)
            v[ranges(v_offs[pf[g]], m)] = vals
        e = np.flatnonzero(n_exc > 0)
        if len(e):
            pos = data[ranges(o[e] + 4, n_exc[e])].astype(np.int64)
            tail = pstart[e] + plen[e]
            high = varint_decode(data[ranges(tail, offs[pf[e] + 1] - tail)])
            tgt = np.repeat(v_offs[pf[e]], n_exc[e]) + pos
            v[tgt] |= high << np.repeat(b[e], n_exc[e]).astype(np.uint64)
    return v


# ------------------------------------------------------------ block lists

def block_layout(group_offsets: np.ndarray, block_size: int
                 ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Cut groups (``group_offsets``, tiling [0, N)) into blocks of
    ``block_size`` rows. Returns (block starts, block ends, per-group
    block-list offsets)."""
    go = np.asarray(group_offsets, dtype=np.int64)
    nblk = (np.diff(go) + block_size - 1) // block_size
    list_offs = excl_cumsum(nblk)
    g = np.repeat(np.arange(len(nblk), dtype=np.int64), nblk)
    k = np.arange(int(list_offs[-1]), dtype=np.int64) - list_offs[:-1][g]
    bstart = go[:-1][g] + k * block_size
    bend = np.minimum(bstart + block_size, go[1:][g])
    return bstart, bend, list_offs


def binary_array(data: np.ndarray, offsets: np.ndarray):
    """Arrow binary array straight from a data and an offsets buffer."""
    import pyarrow as pa
    offs = np.asarray(offsets, dtype=np.int64)
    offs = offs - offs[0]
    if offs[-1] >= 1 << 31:
        raise ValueError("binary column over 2 GiB in one batch")
    return pa.Array.from_buffers(
        pa.binary(), len(offs) - 1,
        [None, pa.py_buffer(offs.astype(np.int32)),
         pa.py_buffer(np.ascontiguousarray(data))])


def encode_stream_fields(streams: list[tuple[np.ndarray, np.ndarray]]):
    """Encode several stream families (each ``(values, offsets)``) in
    ONE ``encode_streams`` call; returns one Arrow binary array per
    family."""
    vals = np.concatenate([np.asarray(s[0], dtype=np.uint64)
                           for s in streams])
    parts, base = [np.zeros(1, dtype=np.int64)], 0
    bounds = [0]
    for s_vals, s_offs in streams:
        parts.append(np.asarray(s_offs[1:], dtype=np.int64) + base)
        base += len(s_vals)
        bounds.append(bounds[-1] + len(s_offs) - 1)
    data, out_offs = encode_streams(vals, np.concatenate(parts))
    return [binary_array(data[out_offs[a]:out_offs[z]], out_offs[a:z + 1])
            for a, z in zip(bounds[:-1], bounds[1:])]


def doc_gaps(doc: np.ndarray, bstart: np.ndarray, bend: np.ndarray):
    """The docs stream family of a block layout: per block, the uint64
    gaps after its first doc. Returns (values, offsets)."""
    u = to_u64(np.asarray(doc))
    not_first = np.ones(len(u), dtype=bool)
    not_first[bstart] = False
    gaps = np.empty(len(u), dtype=np.uint64)
    gaps[1:] = u[1:] - u[:-1]
    return gaps[not_first], excl_cumsum(bend - bstart - 1)


def encode_block_list(group_offsets: np.ndarray, doc: np.ndarray,
                      tf: np.ndarray, dl: np.ndarray,
                      block_size: int = BLOCK_SIZE):
    """Posting groups -> the ``blocks`` column (Arrow
    ``list<struct<first_doc, last_doc, n, max_tf, docs, tfs, dls>>``),
    one list per group. Rows are doc-ascending within each group;
    ``group_offsets`` tile [0, N). Each block decodes independently
    (skippable). Doc lengths (BM25 norms) are embedded in the block so
    query-time scoring needs no doc-stats join."""
    import pyarrow as pa
    doc = np.asarray(doc, dtype=np.int64)
    tf = np.asarray(tf, dtype=np.int64)
    dl = np.asarray(dl, dtype=np.int64)
    bstart, bend, list_offs = block_layout(group_offsets, block_size)
    bnd = np.append(bstart, len(doc))
    docs_b, tfs_b, dls_b = encode_stream_fields([
        doc_gaps(doc, bstart, bend), (tf, bnd), (dl, bnd)])
    max_tf = (np.maximum.reduceat(tf, bstart) if len(bstart)
              else np.empty(0, np.int64))
    struct = pa.StructArray.from_arrays([
        pa.array(doc[bstart], pa.int64()),
        pa.array(doc[bend - 1], pa.int64()),
        pa.array((bend - bstart).astype(np.int32), pa.int32()),
        pa.array(max_tf.astype(np.int32), pa.int32()),
        docs_b, tfs_b, dls_b], names=list(POSTING_FIELDS))
    return pa.ListArray.from_arrays(
        pa.array(list_offs.astype(np.int32), pa.int32()), struct)


def encode_blocks(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray,
                  block_size: int = BLOCK_SIZE) -> list[dict]:
    """One sorted posting list (doc_ids int64 ascending, tfs, dls) ->
    list of block dicts {first_doc, last_doc, n, max_tf, docs (gaps
    after first), tfs, dls}, stream by stream through ``encode_stream``:
    the scalar reference of ``encode_block_list``."""
    assert len(doc_ids) == len(tfs) == len(dls)
    u = to_u64(np.asarray(doc_ids))
    t = np.asarray(tfs, dtype=np.uint64)
    d = np.asarray(dls, dtype=np.uint64)
    blocks = []
    for s in range(0, len(u), block_size):
        e = min(s + block_size, len(u))
        seg = u[s:e]
        blocks.append({
            "first_doc": int(from_u64(seg[:1])[0]),
            "last_doc": int(from_u64(seg[-1:])[0]),
            "n": int(e - s),
            "max_tf": int(t[s:e].max()),
            "docs": encode_stream(seg[1:] - seg[:-1]),
            "tfs": encode_stream(t[s:e]),
            "dls": encode_stream(d[s:e]),
        })
    return blocks


def _field(block, name):
    return block[name] if isinstance(block, dict) else getattr(block, name)


def decode_block(block) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """block (dict or Row) -> (doc_ids int64 asc, tfs int64, dls int64)."""
    n = int(_field(block, "n"))
    gaps = decode_stream(bytes(_field(block, "docs")), n - 1)
    u = np.empty(n, dtype=np.uint64)
    u[0] = to_u64(np.array([_field(block, "first_doc")], dtype=np.int64))[0]
    if len(gaps):
        np.cumsum(gaps, out=u[1:])
        u[1:] += u[0]
    tfs = decode_stream(bytes(_field(block, "tfs")), n).astype(np.int64)
    dls = decode_stream(bytes(_field(block, "dls")), n).astype(np.int64)
    return from_u64(u), tfs, dls


def _binary_parts(arr) -> tuple[np.ndarray, np.ndarray]:
    """(data, offsets) of an Arrow binary array — zero-copy views."""
    import pyarrow as pa
    if arr.null_count:
        raise ValueError("null stream in a posting block")
    odt = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    bufs = arr.buffers()
    offs = np.frombuffer(bufs[1], dtype=odt)[
        arr.offset:arr.offset + len(arr) + 1].astype(np.int64)
    data = (np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None
            else np.empty(0, np.uint8))
    return data, offs


def block_columns(blocks, names: tuple[str, ...]) -> dict:
    """Column view of a block sequence: an Arrow list / struct array
    (zero-copy) or a Python sequence of block dicts/Rows. Integer
    fields -> int64 numpy arrays; binary fields -> (data, offsets)."""
    import pyarrow as pa
    if isinstance(blocks, pa.ListArray):
        blocks = blocks.flatten()
    if isinstance(blocks, pa.StructArray):
        cols = dict(zip([blocks.type.field(i).name
                         for i in range(blocks.type.num_fields)],
                        blocks.flatten()))
        out = {}
        for k in names:
            c = cols[k]
            if pa.types.is_integer(c.type):
                out[k] = c.to_numpy(zero_copy_only=False).astype(np.int64)
            else:
                out[k] = _binary_parts(c)
        return out
    rows = list(blocks)
    out = {}
    for k in names:
        vals = [_field(b, k) for b in rows]
        if k in ("docs", "tfs", "dls", "poss"):
            out[k] = _binary_parts(pa.array([bytes(x) for x in vals],
                                            pa.binary()))
        else:
            out[k] = np.asarray(vals, dtype=np.int64)
    return out


def decode_doc_ids(first_doc: np.ndarray, n: np.ndarray,
                   docs: tuple[np.ndarray, np.ndarray]) -> np.ndarray:
    """Every block's doc ids, concatenated: each block's first doc plus
    the running sum of its decoded gaps (one global uint64 cumsum,
    re-based per block; wraparound is exact modulo 2^64)."""
    total = int(n.sum())
    gaps = decode_streams(docs[0], docs[1], np.maximum(n - 1, 0))
    starts = excl_cumsum(n)[:-1]
    x = np.empty(total, dtype=np.uint64)
    is_first = np.zeros(total, dtype=bool)
    is_first[starts] = True
    x[starts] = to_u64(first_doc)
    x[~is_first] = gaps
    cs = np.cumsum(x)
    return from_u64(cs - np.repeat(cs[starts] - x[starts], n))


def decode_blocks(blocks) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Any number of blocks -> (doc_ids, tfs, dls) int64, concatenated
    in block order, by one segmented decode per stream family.
    ``blocks``: an Arrow list/struct array of blocks, or a sequence of
    block dicts/Rows."""
    if blocks is None or len(blocks) == 0:
        z = np.empty(0, np.int64)
        return z, z, z
    c = block_columns(blocks, ("first_doc", "n", "docs", "tfs", "dls"))
    n = c["n"]
    docs = decode_doc_ids(c["first_doc"], n, c["docs"])
    tfs = decode_streams(*c["tfs"], n).astype(np.int64)
    dls = decode_streams(*c["dls"], n).astype(np.int64)
    return docs, tfs, dls


def list_row_counts(blocks_col) -> np.ndarray:
    """Postings per row of a ``blocks`` list column: the sum of its
    blocks' ``n`` (the segment lengths of a ``decode_blocks`` output
    over ``blocks_col.flatten()``)."""
    import pyarrow as pa
    if isinstance(blocks_col, pa.ChunkedArray):
        blocks_col = blocks_col.combine_chunks()
    lo = blocks_col.offsets.to_numpy().astype(np.int64)
    return seg_sum(block_columns(blocks_col, ("n",))["n"], lo - lo[0])

