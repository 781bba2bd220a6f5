"""Vendored pure-Python FarmHash ``Fingerprint64`` + Spark UDF wrappers.

The reference derives every ArangoDB ``_key`` from
``str(farmhash.Fingerprint64(rdf_id))`` (reference: arango_rdf/main.py:1680-1707)
and every edge key from ``Fingerprint64(f"{s_key}-{p_key}-{o_key}")``
(main.py:2376, main.py:3015).  The engine does not depend on the ``farmhash``
C wheel; it vendors the algorithm itself.

This is an independent re-implementation of the *published* FarmHash
``farmhashna::Hash64`` algorithm (Google FarmHash, Apache-2.0,
https://github.com/google/farmhash — ``Fingerprint64`` is defined as a
platform-independent alias of ``farmhashna::Hash64``).  All arithmetic is
modulo 2**64; multi-byte loads are little-endian.

Validation strategy:
- the algorithm is transcribed from the public specification;
- structural invariants are pytest-pinned (empty input == K2, branch-boundary
  lengths 0/1/3/4/7/8/15/16/17/32/33/64/65/129 all distinct + stable);
- golden digests for a fixed corpus are checked in (tests/golden) so any
  future refactor is regression-checked;
- both the scalar and the numpy batch implementation are pinned bit-for-bit
  against Guava's ``farmHashFingerprint64`` (bundled with Spark) over every
  length branch (tests/test_hashing.py).
"""

from __future__ import annotations

from functools import lru_cache

import pandas as pd  # module-level so pandas_udf type hints resolve

MASK64 = (1 << 64) - 1

K0 = 0xC3A5C85C97CB3127
K1 = 0xB492B66FBE98F273
K2 = 0x9AE16A3B2F90404F
_KMUL = 0x9DDFEA08EB382D69  # Hash128to64 multiplier (Murmur-inspired)


def _rotr(v: int, s: int) -> int:
    """64-bit rotate right (s in 1..63)."""
    return ((v >> s) | (v << (64 - s))) & MASK64


def _shift_mix(v: int) -> int:
    return v ^ (v >> 47)


def _hash_len_16_mul(u: int, v: int, mul: int) -> int:
    a = ((u ^ v) * mul) & MASK64
    a ^= a >> 47
    b = ((v ^ a) * mul) & MASK64
    b ^= b >> 47
    return (b * mul) & MASK64


def _hash_128_to_64(lo: int, hi: int) -> int:
    a = ((lo ^ hi) * _KMUL) & MASK64
    a ^= a >> 47
    b = ((hi ^ a) * _KMUL) & MASK64
    b ^= b >> 47
    return (b * _KMUL) & MASK64


def _fetch64(b: bytes, i: int) -> int:
    return int.from_bytes(b[i : i + 8], "little")


def _fetch32(b: bytes, i: int) -> int:
    return int.from_bytes(b[i : i + 4], "little")


def _hash_len_0_to_16(s: bytes, n: int) -> int:
    if n >= 8:
        mul = (K2 + n * 2) & MASK64
        a = (_fetch64(s, 0) + K2) & MASK64
        b = _fetch64(s, n - 8)
        c = (_rotr(b, 37) * mul + a) & MASK64
        d = ((_rotr(a, 25) + b) * mul) & MASK64
        return _hash_len_16_mul(c, d, mul)
    if n >= 4:
        mul = (K2 + n * 2) & MASK64
        a = _fetch32(s, 0)
        return _hash_len_16_mul((n + (a << 3)) & MASK64, _fetch32(s, n - 4), mul)
    if n > 0:
        a = s[0]
        b = s[n >> 1]
        c = s[n - 1]
        y = (a + (b << 8)) & 0xFFFFFFFF
        z = (n + (c << 2)) & 0xFFFFFFFF
        return (_shift_mix(((y * K2) & MASK64) ^ ((z * K0) & MASK64)) * K2) & MASK64
    return K2


def _hash_len_17_to_32(s: bytes, n: int) -> int:
    mul = (K2 + n * 2) & MASK64
    a = (_fetch64(s, 0) * K1) & MASK64
    b = _fetch64(s, 8)
    c = (_fetch64(s, n - 8) * mul) & MASK64
    d = (_fetch64(s, n - 16) * K2) & MASK64
    return _hash_len_16_mul(
        (_rotr((a + b) & MASK64, 43) + _rotr(c, 30) + d) & MASK64,
        (a + _rotr((b + K2) & MASK64, 18) + c) & MASK64,
        mul,
    )


def _hash_len_33_to_64(s: bytes, n: int) -> int:
    mul = (K2 + n * 2) & MASK64
    a = (_fetch64(s, 0) * K2) & MASK64
    b = _fetch64(s, 8)
    c = (_fetch64(s, n - 8) * mul) & MASK64
    d = (_fetch64(s, n - 16) * K2) & MASK64
    y = (_rotr((a + b) & MASK64, 43) + _rotr(c, 30) + d) & MASK64
    z = _hash_len_16_mul(y, (a + _rotr((b + K2) & MASK64, 18) + c) & MASK64, mul)
    e = (_fetch64(s, 16) * mul) & MASK64
    f = _fetch64(s, 24)
    g = ((y + _fetch64(s, n - 32)) * mul) & MASK64
    h = ((z + _fetch64(s, n - 24)) * mul) & MASK64
    return _hash_len_16_mul(
        (_rotr((e + f) & MASK64, 43) + _rotr(g, 30) + h) & MASK64,
        (e + _rotr((f + a) & MASK64, 18) + g) & MASK64,
        mul,
    )


def _weak_hash_len_32_with_seeds(
    w: int, x: int, y: int, z: int, a: int, b: int
) -> tuple[int, int]:
    a = (a + w) & MASK64
    b = _rotr((b + a + z) & MASK64, 21)
    c = a
    a = (a + x + y) & MASK64
    b = (b + _rotr(a, 44)) & MASK64
    return (a + z) & MASK64, (b + c) & MASK64


def _weak32(s: bytes, i: int, a: int, b: int) -> tuple[int, int]:
    return _weak_hash_len_32_with_seeds(
        _fetch64(s, i), _fetch64(s, i + 8), _fetch64(s, i + 16), _fetch64(s, i + 24), a, b
    )


def _fingerprint64_py(s: bytes) -> int:
    n = len(s)
    if n <= 16:
        return _hash_len_0_to_16(s, n)
    if n <= 32:
        return _hash_len_17_to_32(s, n)
    if n <= 64:
        return _hash_len_33_to_64(s, n)

    # len > 64: 64-byte chunked loop over 56 bytes of state (x, y, z, v, w).
    seed = 81
    x = seed
    y = (seed * K1 + 113) & MASK64
    z = (_shift_mix((y * K2 + 113) & MASK64) * K2) & MASK64
    v0 = v1 = 0
    w0 = w1 = 0
    x = (x * K2 + _fetch64(s, 0)) & MASK64

    end = ((n - 1) // 64) * 64
    last64 = n - 64
    i = 0
    while i != end:
        x = (_rotr((x + y + v0 + _fetch64(s, i + 8)) & MASK64, 37) * K1) & MASK64
        y = (_rotr((y + v1 + _fetch64(s, i + 48)) & MASK64, 42) * K1) & MASK64
        x ^= w1
        y = (y + v0 + _fetch64(s, i + 40)) & MASK64
        z = (_rotr((z + w0) & MASK64, 33) * K1) & MASK64
        v0, v1 = _weak32(s, i, (v1 * K1) & MASK64, (x + w0) & MASK64)
        w0, w1 = _weak32(s, i + 32, (z + w1) & MASK64, (y + _fetch64(s, i + 16)) & MASK64)
        z, x = x, z
        i += 64

    mul = (K1 + ((z & 0xFF) << 1)) & MASK64
    i = last64
    w0 = (w0 + ((n - 1) & 63)) & MASK64
    v0 = (v0 + w0) & MASK64
    w0 = (w0 + v0) & MASK64
    x = (_rotr((x + y + v0 + _fetch64(s, i + 8)) & MASK64, 37) * mul) & MASK64
    y = (_rotr((y + v1 + _fetch64(s, i + 48)) & MASK64, 42) * mul) & MASK64
    x ^= (w1 * 9) & MASK64
    y = (y + v0 * 9 + _fetch64(s, i + 40)) & MASK64
    z = (_rotr((z + w0) & MASK64, 33) * mul) & MASK64
    v0, v1 = _weak32(s, i, (v1 * mul) & MASK64, (x + w0) & MASK64)
    w0, w1 = _weak32(s, i + 32, (z + w1) & MASK64, (y + _fetch64(s, i + 16)) & MASK64)
    z, x = x, z
    return _hash_len_16_mul(
        (_hash_len_16_mul(v0, w0, mul) + ((_shift_mix(y) * K0) & MASK64) + z) & MASK64,
        (_hash_len_16_mul(v1, w1, mul) + x) & MASK64,
        mul,
    )


# ---------------------------------------------------------------------------
# numpy-vectorized batch implementation (the pandas UDFs' hash: ~25x the
# scalar throughput — measured 27.6s -> ~1s for 9M IRIs at 2 cores). Same
# algorithm, computed lane-parallel per length class; pinned against Guava on
# a random corpus covering every length class (tests/test_hashing.py).
# ---------------------------------------------------------------------------

import numpy as np

_U = np.uint64
_K0v, _K1v, _K2v = _U(K0), _U(K1), _U(K2)
_SEED = _U(81)


def _rotr_v(v, s):
    s = _U(s)
    return (v >> s) | (v << (_U(64) - s))


def _shift_mix_v(v):
    return v ^ (v >> _U(47))


def _h16_mul_v(u, v, mul):
    a = (u ^ v) * mul
    a ^= a >> _U(47)
    b = (v ^ a) * mul
    b ^= b >> _U(47)
    return b * mul


class _Buf:
    """Byte buffer + 8 alignment-offset uint64 views (and 4 uint32 views):
    an unaligned little-endian u64 load at byte offset p is one element
    gather from the view at alignment p & 7 — ~8x cheaper than gathering 8
    bytes individually."""

    __slots__ = ("bytes", "v64", "v32")

    def __init__(self, raw: bytes):
        self.bytes = np.frombuffer(raw + b"\0" * 16, dtype=np.uint8)
        nb = len(self.bytes)
        self.v64 = [
            self.bytes[k : k + (nb - k) // 8 * 8].view(np.uint64) for k in range(8)
        ]
        self.v32 = [
            self.bytes[k : k + (nb - k) // 4 * 4].view(np.uint32) for k in range(4)
        ]


def _fetch64_v(buf: _Buf, pos):
    out = np.empty(pos.shape, dtype=np.uint64)
    a = pos & 7
    for k in range(8):
        mk = a == k
        if mk.any():
            out[mk] = buf.v64[k][(pos[mk] - k) >> 3]
    return out


def _fetch32_v(buf: _Buf, pos):
    out = np.empty(pos.shape, dtype=np.uint32)
    a = pos & 3
    for k in range(4):
        mk = a == k
        if mk.any():
            out[mk] = buf.v32[k][(pos[mk] - k) >> 2]
    return out.astype(np.uint64)


def _weak32_v(buf, pos, a, b):
    w = _fetch64_v(buf, pos)
    x = _fetch64_v(buf, pos + 8)
    y = _fetch64_v(buf, pos + 16)
    z = _fetch64_v(buf, pos + 24)
    a = a + w
    b = _rotr_v(b + a + z, 21)
    c = a.copy()
    a = a + x + y
    b = b + _rotr_v(a, 44)
    return a + z, b + c


def fingerprint64_many(strings) -> np.ndarray:
    """Vectorized Fingerprint64 over an iterable of str/bytes → uint64 array."""
    bs = [s.encode("utf-8") if isinstance(s, str) else (s or b"") for s in strings]
    n = len(bs)
    out = np.zeros(n, dtype=np.uint64)
    if n == 0:
        return out
    lens = np.fromiter((len(b) for b in bs), dtype=np.int64, count=n)
    buf = _Buf(b"".join(bs))
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])

    with np.errstate(over="ignore"):
        # len == 0
        out[lens == 0] = _K2v

        m = (lens >= 1) & (lens <= 3)
        if m.any():
            st, ln = starts[m], lens[m]
            a = buf.bytes[st].astype(np.uint64)
            b = buf.bytes[st + (ln >> 1)].astype(np.uint64)
            c = buf.bytes[st + ln - 1].astype(np.uint64)
            y = a + (b << _U(8))
            z = ln.astype(np.uint64) + (c << _U(2))
            out[m] = _shift_mix_v((y * _K2v) ^ (z * _K0v)) * _K2v

        m = (lens >= 4) & (lens <= 7)
        if m.any():
            st, ln = starts[m], lens[m]
            mul = _K2v + ln.astype(np.uint64) * _U(2)
            a = _fetch32_v(buf, st)
            out[m] = _h16_mul_v(
                ln.astype(np.uint64) + (a << _U(3)), _fetch32_v(buf, st + ln - 4), mul
            )

        m = (lens >= 8) & (lens <= 16)
        if m.any():
            st, ln = starts[m], lens[m]
            mul = _K2v + ln.astype(np.uint64) * _U(2)
            a = _fetch64_v(buf, st) + _K2v
            b = _fetch64_v(buf, st + ln - 8)
            c = _rotr_v(b, 37) * mul + a
            d = (_rotr_v(a, 25) + b) * mul
            out[m] = _h16_mul_v(c, d, mul)

        m = (lens >= 17) & (lens <= 32)
        if m.any():
            st, ln = starts[m], lens[m]
            mul = _K2v + ln.astype(np.uint64) * _U(2)
            a = _fetch64_v(buf, st) * _K1v
            b = _fetch64_v(buf, st + 8)
            c = _fetch64_v(buf, st + ln - 8) * mul
            d = _fetch64_v(buf, st + ln - 16) * _K2v
            out[m] = _h16_mul_v(
                _rotr_v(a + b, 43) + _rotr_v(c, 30) + d,
                a + _rotr_v(b + _K2v, 18) + c,
                mul,
            )

        m = (lens >= 33) & (lens <= 64)
        if m.any():
            st, ln = starts[m], lens[m]
            mul = _K2v + ln.astype(np.uint64) * _U(2)
            a = _fetch64_v(buf, st) * _K2v
            b = _fetch64_v(buf, st + 8)
            c = _fetch64_v(buf, st + ln - 8) * mul
            d = _fetch64_v(buf, st + ln - 16) * _K2v
            y = _rotr_v(a + b, 43) + _rotr_v(c, 30) + d
            z = _h16_mul_v(y, a + _rotr_v(b + _K2v, 18) + c, mul)
            e = _fetch64_v(buf, st + 16) * mul
            f = _fetch64_v(buf, st + 24)
            g = (y + _fetch64_v(buf, st + ln - 32)) * mul
            h = (z + _fetch64_v(buf, st + ln - 24)) * mul
            out[m] = _h16_mul_v(
                _rotr_v(e + f, 43) + _rotr_v(g, 30) + h,
                e + _rotr_v(f + a, 18) + g,
                mul,
            )

        m = lens > 64
        if m.any():
            st, ln = starts[m], lens[m]
            x = np.full(st.shape, _SEED * _K2v, dtype=np.uint64) + _fetch64_v(buf, st)
            y = np.full(st.shape, _SEED * _K1v + _U(113), dtype=np.uint64)
            z = _shift_mix_v(y * _K2v + _U(113)) * _K2v
            v0 = np.zeros(st.shape, dtype=np.uint64)
            v1 = np.zeros(st.shape, dtype=np.uint64)
            w0 = np.zeros(st.shape, dtype=np.uint64)
            w1 = np.zeros(st.shape, dtype=np.uint64)

            end = ((ln - 1) // 64) * 64  # relative loop end
            i = np.zeros(st.shape, dtype=np.int64)
            active = i < end
            while active.any():
                p = st[active] + i[active]
                xa, ya, za = x[active], y[active], z[active]
                v0a, v1a, w0a, w1a = v0[active], v1[active], w0[active], w1[active]
                xa = _rotr_v(xa + ya + v0a + _fetch64_v(buf, p + 8), 37) * _K1v
                ya = _rotr_v(ya + v1a + _fetch64_v(buf, p + 48), 42) * _K1v
                xa = xa ^ w1a
                ya = ya + v0a + _fetch64_v(buf, p + 40)
                za = _rotr_v(za + w0a, 33) * _K1v
                v0a, v1a = _weak32_v(buf, p, v1a * _K1v, xa + w0a)
                w0a, w1a = _weak32_v(buf, p + 32, za + w1a, ya + _fetch64_v(buf, p + 16))
                x[active], z[active] = za, xa  # swap(z, x)
                y[active] = ya
                v0[active], v1[active] = v0a, v1a
                w0[active], w1[active] = w0a, w1a
                i[active] += 64
                active = i < end

            mul = _K1v + ((z & _U(0xFF)) << _U(1))
            p = st + ln - 64  # last 64 bytes
            w0 = w0 + ((ln - 1) & 63).astype(np.uint64)
            v0 = v0 + w0
            w0 = w0 + v0
            x = _rotr_v(x + y + v0 + _fetch64_v(buf, p + 8), 37) * mul
            y = _rotr_v(y + v1 + _fetch64_v(buf, p + 48), 42) * mul
            x = x ^ (w1 * _U(9))
            y = y + v0 * _U(9) + _fetch64_v(buf, p + 40)
            z = _rotr_v(z + w0, 33) * mul
            v0, v1 = _weak32_v(buf, p, v1 * mul, x + w0)
            w0, w1 = _weak32_v(buf, p + 32, z + w1, y + _fetch64_v(buf, p + 16))
            z, x = x.copy(), z.copy()
            out[m] = _h16_mul_v(
                _h16_mul_v(v0, w0, mul) + _shift_mix_v(y) * _K0v + z,
                _h16_mul_v(v1, w1, mul) + x,
                mul,
            )
    return out


def fingerprint64(s: str | bytes) -> int:
    """FarmHash Fingerprint64 of ``s`` (UTF-8 bytes of a str)."""
    if isinstance(s, str):
        s = s.encode("utf-8")
    return _fingerprint64_py(s)


@lru_cache(maxsize=1 << 16)
def farmhash_key(rdf_id: str) -> str:
    """ArangoDB-style document key: decimal string of Fingerprint64.

    Mirrors reference behavior at arango_rdf/main.py:1707
    (``str(farmhash.Fingerprint64(rdf_id))``).
    """
    return str(fingerprint64(rdf_id))


def edge_key(s_key: str, p_key: str, o_key: str) -> str:
    """Edge key = hash of the joined term keys (main.py:2376, main.py:3015)."""
    return farmhash_key(f"{s_key}-{p_key}-{o_key}")


# ---------------------------------------------------------------------------
# Spark-side wrappers. The production path is the JVM FarmHashKey UDF
# (Guava, compiled by sparkrdf.session): the statement stream never leaves
# the JVM. Without it (no javac, a cluster without the jar) the same call
# shapes run as Arrow-batched pandas UDFs that hash each distinct string of
# a batch once — and those are the reference the JVM path is tested against.
# ---------------------------------------------------------------------------


def ensure_jvm_hash(session) -> bool:
    """True when the JVM farmhash UDF is registered and verified on
    ``session`` specifically (see :func:`sparkrdf.session.jvm_udfs`).

    Callers that analyze plans against a session OTHER than the active one
    (Structured Streaming's foreachBatch hands the callback a cloned session)
    must call this on the plan's session, or expressions built while the
    active session reports the UDF available fail analysis with
    UNRESOLVED_ROUTINE on the clone."""
    from sparkrdf.session import jvm_udfs

    return "sparkrdf_fh" in jvm_udfs(session)


def _jvm_udfs():
    """JVM-side wrappers with the same call shapes as the pandas UDFs: the
    whole hot path stays inside the JVM (no Arrow transfer of the statement
    stream). The Zipf-memoization the Python path needed is irrelevant here —
    Guava's farmhash runs at GB/s and the strings never leave the executor."""
    from pyspark.sql import functions as F

    def fh(col):
        return F.call_udf("sparkrdf_fh", col)

    def farmhash_udf(col):
        return fh(col)

    def edge_key_udf(sk, pk, ok):
        # concat_ws skips nulls — the key contract returns null if ANY part
        # is null (matching the pandas implementation)
        joined = F.concat_ws("-", sk, pk, ok)
        return F.when(
            sk.isNull() | pk.isNull() | ok.isNull(), F.lit(None).cast("string")
        ).otherwise(fh(joined))

    def term_keys_udf(s, p, o):
        return F.struct(
            fh(s).alias("s_key"), fh(p).alias("p_key"), fh(o).alias("o_key")
        )

    return farmhash_udf, edge_key_udf, term_keys_udf


def _make_udfs():
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        from sparkrdf.session import ensure_pyfiles

        ensure_pyfiles(active)
        if ensure_jvm_hash(active):
            return _jvm_udfs()
    return _make_pandas_udfs()


def _make_pandas_udfs():
    """The Arrow-batched Python implementations — the fallback when the JVM
    UDF jar is absent (no javac / cluster without --jars), and the
    cross-check oracle for the JVM path (tests/test_hashing.py)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def farmhash_udf(ids: pd.Series) -> pd.Series:
        # RDF terms are Zipf-distributed (rdf:type alone is ~1/5 of all
        # statement predicates), so hash each DISTINCT string once per Arrow
        # batch and gather back (pd.factorize), instead of re-hashing every
        # occurrence. Shuffle-free: the dedup is local to the batch.
        mask = ids.notna()
        codes, uniques = pd.factorize(ids[mask].to_numpy())
        vals = fingerprint64_many(list(uniques))
        uniq_strs = np.array([str(v) for v in vals], dtype=object)
        out = pd.Series([None] * len(ids), index=ids.index, dtype="object")
        out[mask] = uniq_strs[codes]
        return out

    @pandas_udf("s_key string, p_key string, o_key string")
    def term_keys_udf(s: pd.Series, p: pd.Series, o: pd.Series) -> pd.DataFrame:
        # All three term columns of a statement batch hashed in ONE UDF
        # invocation: a single factorize across the concatenation dedups
        # across columns too (a URI appearing as subject in one row and
        # object in another hashes once), and the per-batch Python overhead
        # (worker dispatch, factorize setup) is paid once instead of three
        # times. At the bench scale this removed two-thirds of the
        # ArrowEvalPython invocations in the RPT hot path.
        n = len(s)
        allv = pd.concat([s, p, o], ignore_index=True)
        mask = allv.notna().to_numpy()
        codes, uniques = pd.factorize(allv[mask].to_numpy())
        vals = fingerprint64_many(list(uniques))
        uniq_strs = np.array([str(v) for v in vals], dtype=object)
        out = np.full(3 * n, None, dtype=object)
        out[mask] = uniq_strs[codes]
        return pd.DataFrame(
            {"s_key": out[:n], "p_key": out[n : 2 * n], "o_key": out[2 * n :]}
        )

    @pandas_udf("string")
    def edge_key_udf(sk: pd.Series, pk: pd.Series, ok: pd.Series) -> pd.Series:
        mask = sk.notna() & pk.notna() & ok.notna()
        joined = (sk[mask] + "-" + pk[mask] + "-" + ok[mask]).to_numpy()
        codes, uniques = pd.factorize(joined)
        vals = fingerprint64_many(list(uniques))
        uniq_strs = np.array([str(v) for v in vals], dtype=object)
        out = pd.Series([None] * len(sk), index=sk.index, dtype="object")
        out[mask] = uniq_strs[codes]
        return out

    return farmhash_udf, edge_key_udf, term_keys_udf


def register_udfs():
    """Return (farmhash_udf, edge_key_udf) for the active session: the JVM
    UDF wrappers when the session has them, else the pandas UDFs.

    Ships the package to executors first (see sparkrdf.session.ensure_pyfiles)
    so the pandas UDFs resolve when the driver wasn't launched with --py-files.
    """
    return _make_udfs()[:2]


def register_term_keys_udf():
    """The struct-returning (s_key, p_key, o_key) batch hasher — one
    ArrowEvalPython invocation per statement batch instead of three (see
    ``term_keys_udf`` in ``_make_udfs``)."""
    return _make_udfs()[2]
