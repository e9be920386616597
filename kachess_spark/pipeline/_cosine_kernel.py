"""Arrow-vectorized exact-DECIMAL cosine — bit-identical to the JVM
``aggregate(zip_with(...))`` fold it replaces, ~20-100x cheaper.

The JVM path (``_exact_cosine_edges``'s original expression) computes,
per candidate pair::

    dot  = SUM_i CAST(CAST(x_i AS DOUBLE) * CAST(y_i AS DOUBLE)
                      AS DECIMAL(28,14))          -- position-ordered fold
    cos  = round(CAST(dot AS DOUBLE)
                 / sqrt(CAST(snrm AS DOUBLE) * CAST(dnrm AS DOUBLE)), 6)

Spark's ``CAST(double AS DECIMAL(28,14))`` is HALF_UP rounding of the
double's SHORTEST decimal representation (``Decimal(d)`` goes through
``BigDecimal.decimal(d)`` = ``Double.toString``), and ``round(v, 6)``
on a double is the same machinery at scale 6
(``BigDecimal.valueOf(v).setScale(6, HALF_UP).toDouble``).  Those exact
semantics are replicated here with a vectorized fast path and a
guarded exact slow path:

* fast path: quantize ``|p| * 10^scale`` in plain float64.  The result
  can only disagree with HALF_UP-on-shortest-repr when the value lies
  within ``2 * half_ulp(p) * 10^scale`` of a ``.5`` boundary (one
  half-ulp for the float64 product rounding, one for the shortest-repr
  vs exact-binary divergence); everything outside that band is
  provably identical.
* slow path (the band, measured O(1e-4) of elements at embedding
  magnitudes): ``Decimal(repr(p)).quantize(..., ROUND_HALF_UP)`` —
  CPython ``repr`` is the same shortest-round-trip decimal
  ``Double.toString`` produces, so the quantization matches digit for
  digit.
* int64 unit sums are exact; units → double conversion uses exact
  big-int division (CPython's correctly-rounded ``int / int``) when
  the magnitude exceeds 2^53, matching ``BigDecimal.doubleValue``.
* rows whose element products could overflow int64 units (|x·y| >
  1e3 — two orders beyond any real embedding) take a per-row exact
  fold that also replicates the DECIMAL(28,14) overflow-to-NULL
  contract (element or running-sum magnitude >= 10^14 nulls the dot,
  hence the cosine).

``tests/test_round13_ops.py::test_cosine_kernel_matches_jvm_fold``
asserts row-for-row equality (NULLs included) against the JVM fold
(``_exact_cosine_edges(..., engine="jvm")``), plain and mirrored, on
the fixture corpus plus hand-built vectors in the guard band, in the
exact row fold and in the DECIMAL(28,14) overflow-to-NULL regime.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Context, Decimal

import numpy as np

_Q14 = Decimal("1E-14")
_Q6 = Decimal("1E-6")
_DEC_OVERFLOW_UNITS = 10**28  # DECIMAL(28,14) magnitude cap, in 1e-14 units
_TROUBLE_ABS = 1e3  # |x·y| beyond this -> exact row fold (int64 headroom)
# room for any finite double at scale 14 (309 integer + 14 fraction
# digits): the default 28-digit context cannot quantize |p| >= 1e14,
# exactly the products that must become NULL
_EXACT = Context(prec=330)


def _quant_slow(p: float, q: Decimal, pow10: int) -> int:
    """HALF_UP(shortest_repr(|p|), scale) in integer units — the exact
    semantics of Spark's double->decimal cast, via CPython repr."""
    d = Decimal(repr(abs(float(p)))).quantize(q, ROUND_HALF_UP, _EXACT)
    return int(d.scaleb(pow10, _EXACT))


def _quant14_rows(P: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Per-row int64 sums of HALF_UP(shortest(p), 14) units over a
    (rows, dim) float64 matrix, plus a bool mask of rows diverted to
    the exact fold (returned sums are invalid there).

    Fast path is plain float64: hi = |p|*1e14 carries two rounding
    sources vs the true target — the product rounding (<= |p|*1e14 *
    2^-53 ~ |p|*0.0112 units) and the shortest-repr-vs-exact-binary
    divergence (same half-ulp bound) — so any element within
    |p|*0.024 + 1e-6 units of the .5 boundary is re-done exactly via
    Decimal(repr).  Outside the band the float64 decision is provably
    the HALF_UP-on-shortest-repr result; the measured band hit rate at
    embedding magnitudes is ~1e-3."""
    absP = np.abs(P)
    trouble = absP.max(axis=1) > _TROUBLE_ABS
    # diverted rows are redone by the exact fold; zero them here so the
    # fast path never quantizes a magnitude int64 units cannot hold
    absP[trouble] = 0.0
    hi = absP * 1e14
    k = np.floor(hi)
    frac = hi - k  # exact (Sterbenz: k <= hi <= 2k, or k == 0)
    res = (k + (frac >= 0.5)).astype(np.int64)
    guard = np.abs(frac - 0.5) < (absP * 0.024 + 1e-6)
    if guard.any():
        gi = np.nonzero(guard)
        vals = P[gi]
        res[gi] = [_quant_slow(v, _Q14, 14) for v in vals]
    res = np.where(np.signbit(P), -res, res)
    return res.sum(axis=1), trouble


def _dot_units_exact(s: np.ndarray, d: np.ndarray) -> int | None:
    """Exact fold for one diverted row: position-ordered decimal sum
    with the DECIMAL(28,14) overflow-to-NULL contract."""
    acc = 0
    for x, y in zip(s.tolist(), d.tolist()):
        p = x * y  # float64 product, as the JVM computes it
        u = _quant_slow(p, _Q14, 14)
        if abs(u) >= _DEC_OVERFLOW_UNITS:
            return None  # element cast overflows -> NULL poisons the fold
        u = -u if (p < 0 or (p == 0 and np.signbit(p))) else u
        acc += u
        if abs(acc) >= _DEC_OVERFLOW_UNITS:
            return None  # running decimal sum overflows -> NULL
    return acc


def _units_to_double(units: np.ndarray, pow10: int) -> np.ndarray:
    """Nearest float64 of units/10^pow10 (BigDecimal.doubleValue):
    vectorized while exact (|units| <= 2^53), big-int division beyond."""
    out = units.astype(np.float64) / float(10**pow10)
    big = np.abs(units) > (1 << 53)
    if big.any():
        ten = 10**pow10
        for i in np.nonzero(big)[0]:
            out[i] = int(units[i]) / ten
    return out


def _round6(V: np.ndarray) -> np.ndarray:
    """Spark round(v, 6) on doubles: HALF_UP at scale 6 of the shortest
    repr, back to the nearest double.  BigDecimal carries no negative
    zero, so a negative value rounding to 0 comes back +0.0."""
    absV = np.abs(V)
    A = absV * 1e6
    k = np.floor(A)
    frac = A - k
    res = (k + (frac >= 0.5)).astype(np.int64)
    guard = np.abs(frac - 0.5) < (absV * 1e-9 + 1e-9)
    if guard.any():
        gi = np.nonzero(guard)[0]
        res[gi] = [_quant_slow(float(V[i]), _Q6, 6) for i in gi]
    out = res.astype(np.float64) / 1e6  # res <= ~1e6: exact
    out = np.where(np.signbit(V) & (res != 0), -out, out)
    return np.where(np.isnan(V), V, out)


def _list_to_mat(col) -> np.ndarray:
    """Arrow ListArray of numerics -> (rows, dim) float64 matrix."""
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    flat = col.flatten()
    vals = flat.to_numpy(zero_copy_only=False).astype(np.float64)
    n = len(col)
    return vals.reshape(n, -1) if n else vals.reshape(0, 0)


def _dot_units(S: np.ndarray, D: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Per-row dot-product decimal units (+ NULL mask) of two (rows, dim)
    matrices: the vectorized path, with diverted rows redone by the
    exact fold.  An exact fold's units can pass int64 (|dot| >= ~9.2e4)
    while the DECIMAL stays in range, so those batches keep Python ints
    (``_units_to_double`` converts them exactly)."""
    units, trouble = _quant14_rows(S * D)
    null = np.zeros(len(units), dtype=bool)
    if trouble.any():
        units = units.astype(object)
        for i in np.nonzero(trouble)[0]:
            u = _dot_units_exact(S[i], D[i])
            if u is None:
                null[i] = True
            else:
                units[i] = u
    return units, null


def norm_batches(it):
    """mapInArrow kernel: pass (vec_id, embedding) through, append the
    exact-decimal squared norm as a nullable double column ``nrm``."""
    import pyarrow as pa

    for b in it:
        if b.num_rows == 0:
            continue
        X = _list_to_mat(b.column(1))
        units, null = _dot_units(X, X)  # the hoisted x*x norm fold
        nrm = _units_to_double(units, 14)
        arr = pa.array(nrm, type=pa.float64(), from_pandas=False)
        if null.any():
            arr = pa.array(
                [None if null[i] else float(nrm[i]) for i in range(len(nrm))],
                type=pa.float64(),
            )
        yield pa.RecordBatch.from_arrays(
            [b.column(0), b.column(1), arr],
            names=["vec_id", "embedding", "nrm"],
        )


def cosine_pair_batches(it):
    """mapInArrow kernel over joined candidate pairs
    (src, dst, s_emb, d_emb, s_nrm, d_nrm) -> (src, dst, cosine)."""
    return _pair_batches(it, mirror=False)


def cosine_pair_batches_unrounded(it):
    """As ``cosine_pair_batches`` but WITHOUT the round(..., 6) tail —
    the ranking-only cosine the IVF assignment pass compares (its JVM
    original casts the decimal dot to double and divides, never
    rounding)."""
    return _pair_batches(it, mirror=False, rounded=False)


def cosine_pair_batches_mirrored(it):
    """Like ``cosine_pair_batches`` but emits BOTH directions of every
    scored pair — (src, dst, c) and (dst, src, c) — in one pass.  For
    a symmetric candidate set this halves the scoring join, exchange
    bytes and kernel volume versus scoring the directed set, without
    the double-execution a plan-level ``scored UNION mirror(scored)``
    would pay (each union branch re-runs the whole subtree)."""
    return _pair_batches(it, mirror=True)


def _pair_batches(it, mirror: bool, rounded: bool = True):
    import pyarrow as pa

    out_schema = pa.schema(
        [("src", pa.int64()), ("dst", pa.int64()), ("cosine", pa.float64())]
    )
    for b in it:
        if b.num_rows == 0:
            continue
        names = b.schema.names
        col = {n: b.column(i) for i, n in enumerate(names)}
        S = _list_to_mat(col["s_emb"])
        D = _list_to_mat(col["d_emb"])
        snrm = col["s_nrm"].to_numpy(zero_copy_only=False)
        dnrm = col["d_nrm"].to_numpy(zero_copy_only=False)
        units, null = _dot_units(S, D)
        dot = _units_to_double(units, 14)
        with np.errstate(invalid="ignore", divide="ignore"):
            cos = dot / np.sqrt(snrm * dnrm)
            if rounded:
                cos = _round6(cos)
        # NULL norm (Arrow null -> NaN here only via explicit null) or
        # overflow-NULL dot -> NULL cosine, matching the JVM fold
        null |= np.asarray(
            col["s_nrm"].is_null(), dtype=bool
        ) | np.asarray(col["d_nrm"].is_null(), dtype=bool)
        if null.any():
            cos_arr = pa.array(
                [None if null[i] else float(cos[i]) for i in range(len(cos))],
                type=pa.float64(),
            )
        else:
            cos_arr = pa.array(cos, type=pa.float64(), from_pandas=False)
        yield pa.RecordBatch.from_arrays(
            [col["src"], col["dst"], cos_arr], schema=out_schema
        )
        if mirror:
            yield pa.RecordBatch.from_arrays(
                [col["dst"], col["src"], cos_arr], schema=out_schema
            )
