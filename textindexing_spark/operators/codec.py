"""Posting-list codec: docID-delta + varbyte with block-max skip metadata.

The reference stores postings as in-memory ``ImmutableSortedSet<DocumentInfo>``
(Indexing/Indexes/ImmutableIndex.cs:209-219) — fine for one process, not for
10^12 documents. At rest our engine stores each term's postings as

    gaps_blob BINARY   -- varbyte(d0+1, d1-d0, d2-d1, ...) per block
    tfs_blob  BINARY   -- varbyte(tf_i) per block
    blocks    ARRAY<STRUCT<last_doc BIGINT, gap_off INT, tf_off INT,
                           n INT, max_tf INT>>

Blocks are ``block_size`` postings each; the first gap of a block is
relative to the previous block's ``last_doc`` (-1 for the first block), so a
single block can be decoded given only the previous block's metadata —
that's what makes block-max WAND skipping (operators/bm25.py) possible
without decoding the whole list.

Varbyte format: little-endian 7-bit groups, high bit set on the FINAL byte
of each value (classic v-byte, e.g. Manning/Raghavan/Schütze IR book ch.5).
All encode/decode paths are numpy-vectorized — no per-value Python loops.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128


# --- varbyte core ------------------------------------------------------------

def varbyte_encode(vals: np.ndarray) -> np.ndarray:
    """Encode an int64 array (all values >= 0) to a uint8 varbyte stream."""
    vals = np.asarray(vals, dtype=np.uint64)
    if vals.size == 0:
        return np.empty(0, dtype=np.uint8)
    # bytes needed per value: 1 + floor(bit_length-1 / 7)
    nbytes = np.ones(vals.shape, dtype=np.int64)
    for k in range(1, 10):
        nbytes += vals >= np.uint64(1) << np.uint64(7 * k)
    ends = np.cumsum(nbytes)
    total = int(ends[-1])
    out = np.zeros(total, dtype=np.uint8)
    starts = ends - nbytes
    rem = vals.copy()
    # write 7-bit groups level by level (<=10 iterations, each vectorized)
    alive = np.arange(vals.size)
    level = 0
    while alive.size:
        pos = starts[alive] + level
        out[pos] = (rem[alive] & np.uint64(0x7F)).astype(np.uint8)
        rem[alive] >>= np.uint64(7)
        is_last = level + 1 == nbytes[alive]
        out[pos[is_last]] |= 0x80
        alive = alive[~is_last]
        level += 1
    return out


def varbyte_decode(buf: np.ndarray, count: int | None = None) -> np.ndarray:
    """Decode a uint8 varbyte stream back to int64 values."""
    buf = np.asarray(buf, dtype=np.uint8)
    if buf.size == 0:
        return np.empty(0, dtype=np.int64)
    is_last = (buf & 0x80) != 0
    n_vals = int(is_last.sum())
    # value id per byte: 0-based index of the value this byte belongs to
    val_id = np.zeros(buf.size, dtype=np.int64)
    val_id[1:] = np.cumsum(is_last[:-1])
    if val_id[-1] >= n_vals:
        # bytes after the final terminator = the stream ends mid-value
        # (truncated blob); fail with a diagnosis, not an IndexError
        # from the gather below
        raise ValueError("varbyte stream truncated mid-value")
    # position of each byte within its value (little-endian group index)
    starts = np.zeros(n_vals, dtype=np.int64)
    ends = np.flatnonzero(is_last)
    starts[1:] = ends[:-1] + 1
    byte_pos = np.arange(buf.size) - starts[val_id]
    vals = np.zeros(n_vals, dtype=np.int64)
    np.add.at(vals, val_id,
              (buf & 0x7F).astype(np.int64) << (7 * byte_pos))
    if count is not None and n_vals != count:
        raise ValueError(f"varbyte stream held {n_vals} values, expected {count}")
    return vals


# --- posting-list blocks -----------------------------------------------------

def encode_postings(doc_ids: np.ndarray, tfs: np.ndarray,
                    block_size: int = BLOCK_SIZE,
                    doc_lens: np.ndarray | None = None):
    """Encode one term's postings (doc_ids strictly increasing).

    ``doc_lens`` (aligned with doc_ids) feeds the per-block ``min_dl``
    skip bound; without it min_dl falls back to 1 (a valid, looser bound).
    Returns (gaps_blob: bytes, tfs_blob: bytes, blocks: list[dict]).
    """
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    n = doc_ids.size
    blocks = []
    gap_parts = []
    tf_parts = []
    gap_off = 0
    tf_off = 0
    prev_last = -1
    for s in range(0, n, block_size):
        e = min(s + block_size, n)
        gaps = np.empty(e - s, dtype=np.int64)
        # first-block gap in exact Python-int modular arithmetic: ids
        # near the int64 extremes (hash-derived ids, which the salting
        # path anticipates) make `doc_ids[s] - prev_last` exceed int64,
        # and a numpy SCALAR subtract warns (or raises under
        # np.seterr(over='raise')) even though mod-2^64 wraparound is
        # exactly what encode/decode rely on. Array diffs below wrap
        # silently and exactly in C — only the scalar needed care.
        first = (int(doc_ids[s]) - prev_last) % (1 << 64)
        gaps[0] = first - (1 << 64) if first >= 1 << 63 else first
        gaps[1:] = np.diff(doc_ids[s:e])
        gb = varbyte_encode(gaps)
        tb = varbyte_encode(tfs[s:e])
        blocks.append({
            "last_doc": int(doc_ids[e - 1]),
            "gap_off": gap_off,
            "tf_off": tf_off,
            "n": e - s,
            "max_tf": int(tfs[s:e].max()),
            "min_dl": int(doc_lens[s:e].min()) if doc_lens is not None
                      else 1,
        })
        gap_parts.append(gb)
        tf_parts.append(tb)
        gap_off += gb.size
        tf_off += tb.size
        prev_last = int(doc_ids[e - 1])
    gaps_blob = np.concatenate(gap_parts).tobytes() if gap_parts else b""
    tfs_blob = np.concatenate(tf_parts).tobytes() if tf_parts else b""
    return gaps_blob, tfs_blob, blocks


def decode_postings(gaps_blob: bytes, tfs_blob: bytes, blocks) -> tuple:
    """Full decode of one term's postings -> (doc_ids, tfs) int64 arrays."""
    if not blocks:
        return (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64))
    gbuf = np.frombuffer(gaps_blob, dtype=np.uint8)
    tbuf = np.frombuffer(tfs_blob, dtype=np.uint8)
    n = sum(b["n"] for b in blocks)
    gaps = varbyte_decode(gbuf, n)
    tfs = varbyte_decode(tbuf, n)
    doc_ids = np.cumsum(gaps) - 1  # first gap was doc0 + 1
    # correction: gaps reset per block relative to prev block's last_doc, so a
    # plain global cumsum is exact (block-start gap = doc - prev_last).
    return doc_ids, tfs


def decode_block(gaps_blob: bytes, tfs_blob: bytes, blocks, i: int) -> tuple:
    """Decode just block i -> (doc_ids, tfs); needs only block i-1's
    last_doc. This is the lazy path block-max WAND uses to skip."""
    b = blocks[i]
    g_end = blocks[i + 1]["gap_off"] if i + 1 < len(blocks) else len(gaps_blob)
    t_end = blocks[i + 1]["tf_off"] if i + 1 < len(blocks) else len(tfs_blob)
    gbuf = np.frombuffer(gaps_blob, dtype=np.uint8)[b["gap_off"]:g_end]
    tbuf = np.frombuffer(tfs_blob, dtype=np.uint8)[b["tf_off"]:t_end]
    gaps = varbyte_decode(gbuf, b["n"])
    tfs = varbyte_decode(tbuf, b["n"])
    prev_last = blocks[i - 1]["last_doc"] if i > 0 else -1
    doc_ids = np.cumsum(gaps) + prev_last
    return doc_ids, tfs


# --- Spark-compatible doc-id hashing -------------------------------------

def spark_hash_long(vals: np.ndarray) -> np.ndarray:
    """Vectorized twin of Spark's ``hash()`` for a single BIGINT column:
    Murmur3_x86_32 ``hashLong(v, seed=42)`` (Apache Spark,
    common/unsafe/.../Murmur3_x86_32.java) — the function behind
    HashPartitioning, i.e. where ``df.repartition(n, col)`` routes a row
    (partition = pmod(hash, n)). Returns int32.

    Having it in numpy lets a shard-split task (SegmentIndex.reshard)
    compute each document's exact future Spark partition WITHOUT
    shuffling a single posting row; tests/test_reshard.py pins equality
    against ``F.hash`` over random/extreme int64s.
    """
    v = np.ascontiguousarray(np.asarray(vals, dtype=np.int64)) \
        .view(np.uint64)
    lo = (v & np.uint64(0xFFFFFFFF)).astype(np.uint32)
    hi = (v >> np.uint64(32)).astype(np.uint32)

    def mix_k1(k1):
        k1 = k1 * np.uint32(0xCC9E2D51)
        k1 = (k1 << np.uint32(15)) | (k1 >> np.uint32(17))
        return k1 * np.uint32(0x1B873593)

    def mix_h1(h1, k1):
        h1 = h1 ^ k1
        h1 = (h1 << np.uint32(13)) | (h1 >> np.uint32(19))
        return h1 * np.uint32(5) + np.uint32(0xE6546B64)

    h1 = mix_h1(np.full(v.shape, 42, dtype=np.uint32), mix_k1(lo))
    h1 = mix_h1(h1, mix_k1(hi))
    h1 = h1 ^ np.uint32(8)  # fmix with input length 8 bytes
    h1 ^= h1 >> np.uint32(16)
    h1 = h1 * np.uint32(0x85EBCA6B)
    h1 ^= h1 >> np.uint32(13)
    h1 = h1 * np.uint32(0xC2B2AE35)
    h1 ^= h1 >> np.uint32(16)
    return h1.view(np.int32)


def placement_keys(n: int) -> np.ndarray:
    """The inverse of HashPartitioning over ``n`` partitions, for a
    domain of ``n`` values: int64 ``keys`` where ``keys[t]`` is the
    smallest BIGINT k >= 0 with pmod(spark_hash_long(k), n) == t.
    ``repartition(n, key)`` on a BIGINT column holding ``keys[t]`` puts
    the row in partition t, so a shard-keyed stage can give every shard
    its own task (hashing the shard number itself collides: 4 shards
    land in 2 of 4 partitions). The key must stay BIGINT; Spark hashes
    an INT with a different function."""
    found = np.full(n, -1, dtype=np.int64)
    lo, width = 0, max(64, 8 * n)
    while (found < 0).any():
        cand = np.arange(lo, lo + width, dtype=np.int64)
        part = np.mod(spark_hash_long(cand).astype(np.int64), n)
        hit, first = np.unique(part, return_index=True)  # first per part
        fill = found[hit] < 0
        found[hit[fill]] = cand[first[fill]]
        lo += width
    return found
