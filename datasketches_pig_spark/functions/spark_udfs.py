"""Arrow-vectorized Spark UDFs over the murmur kernel — the engine's analog of
the reference's ``hash.MurmurHash3`` Pig UDF (``pig/hash/MurmurHash3.java:45``):
128-bit result (h0, h1) plus optional modulo of the unsigned 128-bit value,
strings UTF-8 encoded first (``:179``), null/empty → null (``:168-181``).

Double canonicalization follows the DataSketches update(double) contract
(``theta/DataToSketchTest.java:195-199``): -0.0 hashes as +0.0.  NaN is
treated as null (no update) — a deliberate deviation: Arrow ships SQL NULL
doubles to pandas as NaN, so the two are indistinguishable batch-side, and
dropping both matches Pig's null-datum no-op rule.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column
from pyspark.sql.functions import pandas_udf

from datasketches_pig_spark.functions.murmur3 import (
    murmur3_bytes_batch,
    murmur3_long_batch,
)

SIGN_FLIP = np.uint64(1) << np.uint64(63)

_C1 = -8663945395140668459  # 0x87c37b91114253d5 as signed int64
_C2 = 5545529020109919103  # 0x4cf5ad432745937f
_FMIX1 = -49064778989728563  # 0xff51afd7ed558ccd
_FMIX2 = -4265267296055464877  # 0xc4ceb9fe1a85ec53


def _s64(x: int) -> int:
    """Wrap an unsigned 64-bit int into the signed int64 literal range."""
    x &= (1 << 64) - 1
    return x - (1 << 64) if x >= (1 << 63) else x


def _rotl(col: Column, r: int) -> Column:
    return F.shiftleft(col, r).bitwiseOR(F.shiftrightunsigned(col, 64 - r))


def _fmix64(col: Column) -> Column:
    h = col.bitwiseXOR(F.shiftrightunsigned(col, 33))
    h = h * F.lit(_FMIX1)
    h = h.bitwiseXOR(F.shiftrightunsigned(h, 33))
    h = h * F.lit(_FMIX2)
    return h.bitwiseXOR(F.shiftrightunsigned(h, 33))


def murmur3_h1_long_expr(col: Column, seed: int = 9001, ordered: bool = False) -> Column:
    """First 64 bits of MurmurHash3_x64_128 of an int64 value (8-byte
    little-endian encoding, the datasketches update(long) form) as PURE
    whole-stage-codegen column algebra — bit-identical to
    ``murmur3.murmur3_long_batch`` (parity test
    ``tests/test_murmur3.py::test_jvm_long_expr_parity``) with no
    Python boundary (guide §4.1: prefer built-ins over UDFs).

    Java long arithmetic wraps mod 2^64 exactly like the C/numpy uint64
    kernels, but only under legacy arithmetic: Spark fixes each multiply's
    and add's overflow mode when the DataFrame is BUILT, so build the
    projection that holds this column while ``spark.sql.ansi.enabled`` is
    false, otherwise a wrapping multiply raises at run time.
    ``sketch.theta.theta_sketch_agg`` sets and restores the flag around its
    projection itself; ``session.get_spark`` sessions have it off.  With
    ``ordered=True`` the sign bit is flipped so signed ordering equals
    unsigned hash ordering (the KMV/theta storage form).  Null in → null
    out (the reference's null-datum no-op rule; empty input cannot occur
    for a fixed 8-byte value)."""
    v = col.cast("long")
    # 8-byte input: no 16-byte body blocks, tail k1 = the value itself
    k1 = v * F.lit(_C1)
    k1 = _rotl(k1, 31)
    k1 = k1 * F.lit(_C2)
    h1 = F.lit(_s64(seed)).bitwiseXOR(k1)
    h2 = F.lit(_s64(seed))
    ln = F.lit(8)
    h1 = h1.bitwiseXOR(ln)
    h2 = h2.bitwiseXOR(ln)
    h1 = h1 + h2
    h2 = h2 + h1
    h1 = _fmix64(h1)
    h2 = _fmix64(h2)
    out = h1 + h2  # final h1 += h2 (h2 += h1 only affects the unused h2)
    if ordered:
        out = out.bitwiseXOR(F.lit(_s64(1 << 63)))
    return out


def _hash_series(s: pd.Series, seed: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Hash a pandas Series by dtype: int64 → 8-byte LE; everything else via
    its canonical byte representation (strings UTF-8, bytes raw)."""
    if pd.api.types.is_integer_dtype(s.dtype) and not s.isna().any():
        h1, h2 = murmur3_long_batch(s.to_numpy(dtype=np.int64), seed)
        return h1, h2, np.ones(len(s), dtype=bool)
    vals: list[bytes | None] = []
    for v in s:
        if v is None or (isinstance(v, float) and np.isnan(v)):
            vals.append(None)
        elif isinstance(v, (bytes, bytearray)):
            vals.append(bytes(v))
        elif isinstance(v, str):
            vals.append(v.encode("utf-8"))
        elif isinstance(v, (int, np.integer)):
            vals.append(int(np.int64(v)).to_bytes(8, "little", signed=True))
        elif isinstance(v, (float, np.floating)):
            d = float(v)
            d = 0.0 if d == 0.0 else d  # -0.0 → +0.0 canonicalization
            vals.append(np.float64(d).tobytes())
        else:
            vals.append(str(v).encode("utf-8"))
    return murmur3_bytes_batch(vals, seed)


def _h1_udf(seed: int, flip: bool):
    """The one pandas-UDF body behind ``murmur3_h1`` (``flip=False``) and
    ``murmur3_h1_ordered`` (``flip=True``), for the Column API and the SQL
    registration alike."""

    @pandas_udf("long")
    def _udf(s: pd.Series) -> pd.Series:
        h1, _, valid = _hash_series(s, seed)
        if flip:
            h1 = h1 ^ SIGN_FLIP
        # nullable Int64, NOT None-into-int64 masking: pandas silently casts
        # an int64 column to float64 on None assignment, truncating hashes
        # below 2^53 precision for the whole batch
        out = pd.Series(pd.array(h1.view(np.int64), dtype="Int64"))
        out[~valid] = pd.NA
        return out

    return _udf


def _h128_udf(seed: int, divisor: int | None):
    """The one pandas-UDF body behind ``murmur3_128``: (h0, h1, mod) struct,
    ``mod`` = the unsigned 128-bit value modulo ``divisor`` (null if none)."""
    if divisor is not None and not (0 < divisor <= 2**31 - 1):
        # mod is a 32-bit struct field; a larger divisor would make every
        # batch raise at runtime, so refuse when the UDF is built
        raise ValueError(
            f"murmur3_128: divisor must be in (0, 2^31-1], got {divisor}"
        )

    @pandas_udf("struct<h0: long, h1: long, mod: int>")
    def _udf(s: pd.Series) -> pd.DataFrame:
        h1, h2, valid = _hash_series(s, seed)
        mod = np.zeros(len(s), dtype=np.int64)
        if divisor:
            # (h2·2^64 + h1) mod d, using python ints for the 128-bit fold
            mod = np.array(
                [((int(b) << 64) | int(a)) % divisor for a, b in zip(h1, h2)],
                dtype=np.int64,
            )
        # nullable extension dtypes: .loc[...] = None on plain int64 columns
        # casts them to float64 even when the mask is all-False, truncating
        # every hash to 53-bit float precision (caught by the VALUES oracle)
        out = pd.DataFrame(
            {
                "h0": pd.array(h1.view(np.int64), dtype="Int64"),
                "h1": pd.array(h2.view(np.int64), dtype="Int64"),
                "mod": pd.array(mod, dtype="Int32"),
            }
        )
        out.loc[~valid, ["h0", "h1", "mod"]] = pd.NA
        if not divisor:
            # keep the Int32 extension dtype — a bare pd.NA assignment flips
            # the column to object dtype and breaks Arrow conversion
            out["mod"] = pd.array([pd.NA] * len(out), dtype="Int32")
        return out

    return _udf


def murmur3_h1(col, seed: int = 9001) -> Column:
    """Column UDF: first 64 bits of murmur3-128, as signed int64 (null for
    null/empty input)."""
    return _h1_udf(seed, flip=False)(col)


def murmur3_h1_ordered(col, seed: int = 9001) -> Column:
    """Like murmur3_h1 but with the sign bit flipped, so signed int64 ordering
    equals unsigned uint64 ordering — the representation the KMV/theta sketch
    layer stores (bottom-k by unsigned hash via plain ORDER BY)."""
    return _h1_udf(seed, flip=True)(col)


def murmur3_128(col, seed: int = 9001, divisor: int | None = None) -> Column:
    """Full reference-parity UDF: (h0 long, h1 long, mod int) struct; ``mod``
    is the unsigned 128-bit value modulo ``divisor`` (null if no divisor) —
    the LSH band→bucket assignment primitive (``pig/hash/MurmurHash3.java:85-101``)."""
    return _h128_udf(seed, divisor)(col)


def register_sql_functions(
    spark, prefix: str = "ds_", seed: int = 9001, divisor: int | None = None
) -> list[str]:
    """Register the hash UDF family for ``spark.sql(...)`` callers — the
    Spark-SQL analog of the reference's Pig-script surface: Pig binds the
    seed at DEFINE time (``DEFINE MurmurHash3
    datasketches.pig.hash.MurmurHash3('9001')``) and scripts then call the
    bound name; this binds seed/divisor at registration the same way.

    Only the murmur family needs registration: every other operator here is
    either plain relational SQL already (aggregations, set algebra,
    windows) or a DataFrame-level operator with its own API.  Registered
    (default prefix ``ds_``):

    * ``ds_murmur3_h1(expr)``         → long (first 64 bits, null on empty)
    * ``ds_murmur3_h1_ordered(expr)`` → long (sign-flipped: signed ORDER BY
      == unsigned hash order — the KMV/theta storage form)
    * ``ds_murmur3_128(expr)``        → struct<h0,h1,mod> (``mod`` is the
      128-bit value modulo ``divisor`` — the Pig UDF's bucket-assignment
      arg — or null when no divisor is bound)

    The registered objects are built by the same factories as the Column
    API's UDFs.  Returns the registered names.
    """
    h128 = _h128_udf(seed, divisor)  # validates divisor before registering
    udfs = {
        f"{prefix}murmur3_h1": _h1_udf(seed, flip=False),
        f"{prefix}murmur3_h1_ordered": _h1_udf(seed, flip=True),
        f"{prefix}murmur3_128": h128,
    }
    for name, udf in udfs.items():
        spark.udf.register(name, udf)
    return list(udfs)
