"""Vectorized 64-bit hash primitives.

Mirrors the reference's pluggable-hasher design (``BuildHasherDefault<H>`` in
``probminhash3.rs:45``, ``superminhasher.rs:9-11``): elements are mapped to a
u64 which seeds the per-element RNG.  Supported hashers:

- ``fnv1a64``        — FNV-1a over the element's 8 little-endian bytes, the
                       hasher the reference's tests use (``fnv::FnvHasher``,
                       ``probminhash3.rs:381``; Rust's ``u64::hash`` feeds
                       native-endian bytes via ``write_u64``).
- ``nohash``         — identity for pre-hashed u64 values (``nohasher.rs:10-48``).
- ``mix64``          — SplitMix64 finalizer, our default production mix.
- ``wang64``         — Thomas Wang invertible u64 hash (+ inverse), port of
                       ``invhash.rs:39-95``; used for pre-hashed test fixtures
                       exactly like ``superminhasher.rs:418-419``.
"""

from __future__ import annotations

import numpy as np

from .rng import splitmix64_mix

U64 = np.uint64
_err = dict(over="ignore", under="ignore")

FNV_OFFSET = U64(0xCBF29CE484222325)
FNV_PRIME = U64(0x100000001B3)


def fnv1a64_u64(values: np.ndarray) -> np.ndarray:
    """FNV-1a of each u64's 8 little-endian bytes (Rust ``FnvHasher`` on u64)."""
    v = np.asarray(values, dtype=U64)
    h = np.full(v.shape, FNV_OFFSET, dtype=U64)
    with np.errstate(**_err):
        for byte_idx in range(8):
            b = (v >> U64(8 * byte_idx)) & U64(0xFF)
            h = (h ^ b) * FNV_PRIME
    return h


def fnv1a64_bytes(data: bytes) -> int:
    h = 0xCBF29CE484222325
    for b in data:
        h = ((h ^ b) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def wang64(values: np.ndarray) -> np.ndarray:
    """Thomas Wang 64-bit invertible hash (``invhash.rs:39-67``)."""
    with np.errstate(**_err):
        k = np.asarray(values, dtype=U64)
        k = (~k) + (k << U64(21))
        k = k ^ (k >> U64(24))
        k = (k + (k << U64(3))) + (k << U64(8))  # k * 265
        k = k ^ (k >> U64(14))
        k = (k + (k << U64(2))) + (k << U64(4))  # k * 21
        k = k ^ (k >> U64(28))
        k = k + (k << U64(31))
    return k


def wang64_inverse(values: np.ndarray) -> np.ndarray:
    """Inverse of :func:`wang64` (``invhash.rs:73-95``)."""
    with np.errstate(**_err):
        k = np.asarray(values, dtype=U64)
        # invert k = k + (k << 31)
        t = k - (k << U64(31))
        k = k - (t << U64(31))
        # invert k ^= k >> 28
        t = k ^ (k >> U64(28))
        k = k ^ (t >> U64(28))
        # invert k *= 21
        k = k * U64(14933078535860113213)
        # invert k ^= k >> 14
        t = k ^ (k >> U64(14))
        t = k ^ (t >> U64(14))
        t = k ^ (t >> U64(14))
        k = k ^ (t >> U64(14))
        # invert k *= 265
        k = k * U64(15244667743933553977)
        # invert k ^= k >> 24
        t = k ^ (k >> U64(24))
        k = k ^ (t >> U64(24))
        # invert k = ~k + (k << 21)
        t = ~k
        t = ~(k - (t << U64(21)))
        t = ~(k - (t << U64(21)))
        k = ~(k - (t << U64(21)))
    return k


def mix64(values: np.ndarray) -> np.ndarray:
    """Default production u64 mixer (SplitMix64 finalizer)."""
    return splitmix64_mix(np.asarray(values, dtype=U64))


def hash_u64(values: np.ndarray, hasher: str) -> np.ndarray:
    """Apply the configured element hasher (reference: ``BuildHasherDefault``)."""
    if hasher == "nohash":
        return np.asarray(values, dtype=U64)
    if hasher == "fnv1a64":
        return fnv1a64_u64(values)
    if hasher == "mix64":
        return mix64(values)
    if hasher == "wang64":
        return wang64(values)
    if hasher == "sha":
        return sha512_256_states(values)[1]
    raise ValueError(f"unknown hasher {hasher!r}")


# ---------------------------------------------------------------------------
# fully vectorized SHA-512/256 (FIPS 180-4) — the S6 identity digest computed
# in numpy over lanes, no per-key Python.  Message lengths are arbitrary;
# lanes are processed block-by-block with an active mask, so a batch of
# mostly-short messages costs ~one compression call.
# ---------------------------------------------------------------------------

_SHA512_K = np.array(
    [
        0x428A2F98D728AE22, 0x7137449123EF65CD, 0xB5C0FBCFEC4D3B2F, 0xE9B5DBA58189DBBC,
        0x3956C25BF348B538, 0x59F111F1B605D019, 0x923F82A4AF194F9B, 0xAB1C5ED5DA6D8118,
        0xD807AA98A3030242, 0x12835B0145706FBE, 0x243185BE4EE4B28C, 0x550C7DC3D5FFB4E2,
        0x72BE5D74F27B896F, 0x80DEB1FE3B1696B1, 0x9BDC06A725C71235, 0xC19BF174CF692694,
        0xE49B69C19EF14AD2, 0xEFBE4786384F25E3, 0x0FC19DC68B8CD5B5, 0x240CA1CC77AC9C65,
        0x2DE92C6F592B0275, 0x4A7484AA6EA6E483, 0x5CB0A9DCBD41FBD4, 0x76F988DA831153B5,
        0x983E5152EE66DFAB, 0xA831C66D2DB43210, 0xB00327C898FB213F, 0xBF597FC7BEEF0EE4,
        0xC6E00BF33DA88FC2, 0xD5A79147930AA725, 0x06CA6351E003826F, 0x142929670A0E6E70,
        0x27B70A8546D22FFC, 0x2E1B21385C26C926, 0x4D2C6DFC5AC42AED, 0x53380D139D95B3DF,
        0x650A73548BAF63DE, 0x766A0ABB3C77B2A8, 0x81C2C92E47EDAEE6, 0x92722C851482353B,
        0xA2BFE8A14CF10364, 0xA81A664BBC423001, 0xC24B8B70D0F89791, 0xC76C51A30654BE30,
        0xD192E819D6EF5218, 0xD69906245565A910, 0xF40E35855771202A, 0x106AA07032BBD1B8,
        0x19A4C116B8D2D0C8, 0x1E376C085141AB53, 0x2748774CDF8EEB99, 0x34B0BCB5E19B48A8,
        0x391C0CB3C5C95A63, 0x4ED8AA4AE3418ACB, 0x5B9CCA4F7763E373, 0x682E6FF3D6B2B8A3,
        0x748F82EE5DEFB2FC, 0x78A5636F43172F60, 0x84C87814A1F0AB72, 0x8CC702081A6439EC,
        0x90BEFFFA23631E28, 0xA4506CEBDE82BDE9, 0xBEF9A3F7B2C67915, 0xC67178F2E372532B,
        0xCA273ECEEA26619C, 0xD186B8C721C0C207, 0xEADA7DD6CDE0EB1E, 0xF57D4F7FEE6ED178,
        0x06F067AA72176FBA, 0x0A637DC5A2C898A6, 0x113F9804BEF90DAE, 0x1B710B35131C471B,
        0x28DB77F523047D84, 0x32CAAB7B40C72493, 0x3C9EBE0A15C9BEBC, 0x431D67C49C100D4C,
        0x4CC5D4BECB3E42B6, 0x597F299CFC657E2A, 0x5FCB6FAB3AD6FAEC, 0x6C44198C4A475817,
    ],
    dtype=U64,
)

# SHA-512/256 initial hash value (FIPS 180-4 §5.3.6.2)
_SHA512_256_IV = np.array(
    [
        0x22312194FC2BF72C, 0x9F555FA3C84C64C2, 0x2393B86B6F53B151, 0x963877195940EABD,
        0x96283EE2A88EFFE3, 0xBE5E1E2553863992, 0x2B0199FC2C85B8AA, 0x0EB72DDC81C52CA2,
    ],
    dtype=U64,
)


def _rotr64(x: np.ndarray, k: int) -> np.ndarray:
    return (x >> U64(k)) | (x << U64(64 - k))


def _sha512_compress(state: np.ndarray, M: np.ndarray) -> np.ndarray:
    """One SHA-512 compression over lanes: state (n, 8) u64, M (n, 16) u64
    big-endian message words.  Returns the new (n, 8) state."""
    w = [np.ascontiguousarray(M[:, t]) for t in range(16)]
    a, b, c, d, e, f, g, h = (state[:, i].copy() for i in range(8))
    with np.errstate(**_err):
        for t in range(80):
            if t < 16:
                wt = w[t]
            else:
                w2, w7, w15, w16 = w[(t - 2) % 16], w[(t - 7) % 16], w[(t - 15) % 16], w[t % 16]
                s0 = _rotr64(w15, 1) ^ _rotr64(w15, 8) ^ (w15 >> U64(7))
                s1 = _rotr64(w2, 19) ^ _rotr64(w2, 61) ^ (w2 >> U64(6))
                wt = w16 + s0 + w7 + s1
                w[t % 16] = wt
            S1 = _rotr64(e, 14) ^ _rotr64(e, 18) ^ _rotr64(e, 41)
            ch = (e & f) ^ (~e & g)
            t1 = h + S1 + ch + _SHA512_K[t] + wt
            S0 = _rotr64(a, 28) ^ _rotr64(a, 34) ^ _rotr64(a, 39)
            maj = (a & b) ^ (a & c) ^ (b & c)
            t2 = S0 + maj
            h, g, f, e, d, c, b, a = g, f, e, d + t1, c, b, a, t1 + t2
        out = np.empty_like(state)
        for i, v in enumerate((a, b, c, d, e, f, g, h)):
            out[:, i] = state[:, i] + v
    return out


def sha512_256_raw(
    buf: np.ndarray, starts: np.ndarray, lens: np.ndarray
) -> np.ndarray:
    """SHA-512/256 digests of ``n`` variable-length byte messages, fully
    vectorized over lanes.  ``buf`` is a flat uint8 buffer; message ``i`` is
    ``buf[starts[i] : starts[i] + lens[i]]``.

    Returns (n, 4) u64: the 32-byte digest of each message viewed as four
    LITTLE-endian u64 words — exactly ``np.frombuffer(hashlib.new(
    'sha512_256', msg).digest(), '<u8')``, the layout the Xoshiro seeding
    consumes (``probminhash3sha.rs:106-114`` reads the digest as 4xu64).
    """
    starts = np.asarray(starts, dtype=np.int64)
    lens = np.asarray(lens, dtype=np.int64)
    n = starts.shape[0]
    buf = np.ascontiguousarray(buf, dtype=np.uint8)
    nblocks = (lens + 17 + 127) // 128  # payload + 0x80 + 16-byte length
    state = np.tile(_SHA512_256_IV, (n, 1))
    lanes = np.arange(n)
    jj = np.arange(128)
    for blk in range(int(nblocks.max()) if n else 0):
        act = lanes[nblocks > blk]
        s_a, l_a = starts[act], lens[act]
        # gather this block's payload bytes (zero beyond the message)
        src = s_a[:, None] + blk * 128 + jj[None, :]
        valid = (blk * 128 + jj[None, :]) < l_a[:, None]
        if buf.size:
            B = np.where(valid, buf[np.minimum(src, buf.size - 1)], 0).astype(np.uint8)
        else:  # all messages empty: pure padding blocks
            B = np.zeros(src.shape, dtype=np.uint8)
        # 0x80 terminator lands in this block when lens in [blk*128, blk*128+128)
        p80 = l_a - blk * 128
        in_blk = (p80 >= 0) & (p80 < 128)
        B[np.nonzero(in_blk)[0], p80[in_blk]] = 0x80
        # 128-bit big-endian bit length in the final block's last 16 bytes
        # (messages are < 2^61 bytes, so the high 8 bytes stay zero)
        last = np.nonzero(nblocks[act] == blk + 1)[0]
        if last.size:
            bitlen = (l_a[last] * 8).astype(U64)
            for k in range(8):
                B[last, 120 + k] = (bitlen >> U64(8 * (7 - k))).astype(np.uint8)
        # 16 big-endian u64 message words
        M = np.zeros((act.size, 16), dtype=U64)
        Bw = B.reshape(act.size, 16, 8)
        with np.errstate(**_err):
            for k in range(8):
                M = (M << U64(8)) | Bw[:, :, k].astype(U64)
        state[act] = _sha512_compress(state[act], M)
    # digest = first 4 state words, each serialized big-endian; reading those
    # bytes as '<u8' is a byteswap of the state word
    return state[:, :4].byteswap()


class _DigestCache:
    """Vectorized cross-batch digest cache: shingle keys repeat massively
    across documents/batches, so warm keys resolve with ONE np.searchsorted
    instead of recomputing the compression.  Kept as a sorted u64 key array
    + parallel (n, 4) state matrix — both lookup and merge are whole-array
    numpy, no per-key Python."""

    MAX_KEYS = 1 << 20  # 40 MB of states; vocabulary-sized in practice

    def __init__(self) -> None:
        # one tuple, so a merge swaps keys and states together
        self.table = (np.empty(0, dtype=U64), np.empty((0, 4), dtype=U64))

    def states(self, uniq: np.ndarray, digest) -> np.ndarray:
        """(n, 4) states of the sorted unique keys ``uniq``: cache hits by
        one searchsorted, misses from ``digest(miss)`` (``miss`` a bool mask
        over ``uniq``, the result its (n_miss, 4) states), merged in while
        the cache stays under ``MAX_KEYS``."""
        ck, cs = self.table
        ustates = np.empty((uniq.size, 4), dtype=U64)
        if ck.size:
            pos = np.searchsorted(ck, uniq)
            hit = (pos < ck.size) & (ck[np.minimum(pos, ck.size - 1)] == uniq)
            ustates[hit] = cs[pos[hit]]
            miss = ~hit
        else:
            miss = np.ones(uniq.size, dtype=bool)
        n_miss = int(miss.sum())
        if n_miss:
            mstates = digest(miss)
            ustates[miss] = mstates
            if ck.size + n_miss <= self.MAX_KEYS:
                # merge-in keeping sort order (uniq[miss] is already sorted)
                merged = np.concatenate([ck, uniq[miss]])
                order = np.argsort(merged, kind="stable")
                self.table = (merged[order], np.concatenate([cs, mstates])[order])
        return ustates


# two caches, never one: the u64-key regime digests the key's 8 bytes, the
# raw regime the shingle's own bytes under their poly-hash, so a key shared
# by both regimes maps to two different digests
_SHA_CACHE = _DigestCache()
_SHA_RAW_CACHE = _DigestCache()


def sha512_256_states(keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """ProbMinHash3aSha identity regime (S6, ``probminhash3sha.rs:87-167``)
    over pre-hashed u64 keys: each key's 8 little-endian bytes are digested
    with SHA-512/256; the 32-byte digest is the item's Xoshiro256++ seed
    state and its first word the identity carried in signatures
    (``sig.rs:12-15``).

    Returns (states (n,4) u64, ident (n,) u64).  Digests are computed once
    per UNIQUE key (np.unique) with the fully vectorized single-block
    :func:`sha512_256_raw`; warm keys come from the sorted-array cache via
    one searchsorted — no per-key Python anywhere.
    """
    keys = np.asarray(keys, dtype=U64)
    uniq, inv = np.unique(keys, return_inverse=True)

    def digest(miss: np.ndarray) -> np.ndarray:
        n_miss = int(miss.sum())
        return sha512_256_raw(
            uniq[miss].astype("<u8").view(np.uint8),
            np.arange(n_miss, dtype=np.int64) * 8,
            np.full(n_miss, 8, dtype=np.int64),
        )

    states = _SHA_CACHE.states(uniq, digest)[inv]
    return states, np.ascontiguousarray(states[:, 0])


def sha512_256_states_raw(
    buf: np.ndarray,
    starts: np.ndarray,
    lens: np.ndarray,
    keys: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """ProbMinHash3aSha identity regime over RAW byte keys — the reference's
    actual input regime (``probminhash3sha.rs:106-114`` + ``sig.rs:12-15``
    digest the key's own bytes, e.g. ``&[u8]`` shingles), with no u64
    poly-hash bottleneck in the digest.

    ``keys[i]`` is the u64 poly-hash of message ``buf[starts[i]:+lens[i]]``,
    used ONLY for dedup/caching (equal hash <=> equal bytes w.h.p.; a 2^-64
    in-batch collision risk, the engine's standing shingle-identity regime),
    so one representative span per key is digested.
    Note the cache makes a collision sticky for the worker's lifetime: the
    first-seen bytes' digest is served for any later key collision across
    batches — still the same 2^-64-per-pair exposure, just persistent
    (r3 ADVICE, accepted).
    Returns (states (n,4) u64, ident (n,) u64) like :func:`sha512_256_states`.
    """
    keys = np.asarray(keys, dtype=U64)
    uniq, idx_first = np.unique(keys, return_index=True)

    def digest(miss: np.ndarray) -> np.ndarray:
        rep = idx_first[miss]
        return sha512_256_raw(
            buf,
            np.asarray(starts, dtype=np.int64)[rep],
            np.asarray(lens, dtype=np.int64)[rep],
        )

    states = _SHA_RAW_CACHE.states(uniq, digest)[np.searchsorted(uniq, keys)]
    return states, np.ascontiguousarray(states[:, 0])


def _rotl32(x: np.ndarray, k: int) -> np.ndarray:
    k = np.uint32(k)
    with np.errstate(**_err):
        return (x << k) | (x >> (np.uint32(32) - k))


def murmur3_32_u64(values: np.ndarray, seed: int = 127) -> np.ndarray:
    """MurmurHash3 x86_32 of each u64's 8 native-endian bytes — the folding
    hash the reference uses to project u64 signatures to u32/u16/u8 slots
    (``densminhash.rs:117-166``, seed 127)."""
    v = np.asarray(values, dtype=U64)
    c1, c2 = np.uint32(0xCC9E2D51), np.uint32(0x1B873593)
    h = np.full(v.shape, np.uint32(seed), dtype=np.uint32)
    with np.errstate(**_err):
        for blk in range(2):
            k = ((v >> U64(32 * blk)) & U64(0xFFFFFFFF)).astype(np.uint32)
            k = k * c1
            k = _rotl32(k, 15)
            k = k * c2
            h = h ^ k
            h = _rotl32(h, 13)
            h = h * np.uint32(5) + np.uint32(0xE6546B64)
        h = h ^ np.uint32(8)  # total length
        h = h ^ (h >> np.uint32(16))
        h = h * np.uint32(0x85EBCA6B)
        h = h ^ (h >> np.uint32(13))
        h = h * np.uint32(0xC2B2AE35)
        h = h ^ (h >> np.uint32(16))
    return h


def fold_signature(values: np.ndarray, bits: int) -> np.ndarray:
    """Project u64 signature slots to `bits`-wide ints (S25 parity:
    ``densminhash.rs:140-166`` — murmur3_32 then right-shift)."""
    assert bits in (8, 16, 32)
    h = murmur3_32_u64(values)
    return (h >> np.uint32(32 - bits)).astype(
        {8: np.uint8, 16: np.uint16, 32: np.uint32}[bits]
    )


def combine64(a: np.ndarray, b: np.ndarray | int) -> np.ndarray:
    """Order-dependent combine of two u64 streams (for band keys, w-shingles)."""
    with np.errstate(**_err):
        x = np.asarray(a, dtype=U64) * U64(0x9E3779B97F4A7C15)
        x ^= np.asarray(b, dtype=U64) + U64(0x632BE59BD9B4E019) + (x << U64(6)) + (x >> U64(2))
    return splitmix64_mix(x)
