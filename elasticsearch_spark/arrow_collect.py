"""Arrow-backed driver collection (guide §6: "Arrow for driver
transfers ... orders of magnitude faster than the row path").

PySpark's classic ``DataFrame.collect()`` ships rows JVM->Python as
pickled batches and is the dominant cost for large result sets: the
round-6 measurement found the sf1.0 ``dedup_minhash_lsh`` candidate
frame (35.9M rows of two longs) computes in 7.2 s but collects in
150 s — 95% of the wall clock was the pickle boundary, not the query.
The same rows cross as ONE Arrow stream in ~3 s (``toArrow``), and
materializing ``Row`` objects from Arrow costs ~8 s with the fast
paths below: a 6x end-to-end win with byte-identical results.

``ArrowCollectDataFrame`` is a plain ``DataFrame`` subclass whose
``collect()`` fetches via Arrow and converts with the SAME per-type
converters Spark Connect's collect uses
(``pyspark.sql.conversion.ArrowTableToRowsConversion`` — the
upstream-maintained classic-parity conversion), plus two fast paths:

  - null-free numeric/boolean columns materialize via
    ``to_numpy().tolist()`` (C loop) instead of per-value Python calls;
  - ``Row`` objects are built by ``tuple.__new__`` over a class whose
    ``__fields__`` is a CLASS attribute (attribute lookup falls
    through to the class, so per-row ``__dict__`` allocation — and its
    GC pressure — disappears).

Schemas outside the verified-parity type set (binary — classic returns
``bytearray`` —, UDTs, variant/geo) fall back to the classic pickle
path, as does any Arrow conversion error.  Everything is computed from
the source tables on every call — this changes only how finished rows
cross the JVM->Python boundary, never what is computed.

Parity is pinned by tests/test_arrow_collect.py (type-matrix equality
against classic ``collect()``) and tools/check_collect_parity.py (all
contract queries at sf0.01).
"""

from __future__ import annotations

import gc
import sys
from functools import partial

from pyspark.sql.classic.dataframe import DataFrame
from pyspark.sql.conversion import ArrowTableToRowsConversion
from pyspark.sql.types import (
    ArrayType,
    AtomicType,
    BinaryType,
    BooleanType,
    ByteType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    Row,
    ShortType,
    StructType,
)

_NUMERIC = (
    LongType, IntegerType, ShortType, ByteType, DoubleType, FloatType,
    BooleanType,
)


def _arrow_safe(dt: DataType) -> bool:
    """Types whose Arrow->Row conversion is verified identical to the
    classic pickle path. Binary is excluded (classic yields bytearray,
    Arrow yields bytes); UDT/variant/geo are excluded untested."""
    if isinstance(dt, StructType):
        return all(_arrow_safe(f.dataType) for f in dt.fields)
    if isinstance(dt, ArrayType):
        return _arrow_safe(dt.elementType)
    if isinstance(dt, MapType):
        return _arrow_safe(dt.keyType) and _arrow_safe(dt.valueType)
    if isinstance(dt, BinaryType):
        return False
    return isinstance(dt, AtomicType)


def _materialize_column(col, dtype: DataType) -> list:
    """One Arrow ChunkedArray -> list of Python values with classic-
    collect semantics."""
    conv = ArrowTableToRowsConversion._create_converter(
        dtype, none_on_identity=True)
    if conv is None:
        # identity conversion: primitives, strings, dates, decimals
        if isinstance(dtype, _NUMERIC) and col.null_count == 0:
            # C-loop materialization; ONLY safe null-free (nullable
            # ints would come back as float NaN)
            return col.to_numpy(zero_copy_only=False).tolist()
        return col.to_pylist()
    return list(map(conv, col.to_pylist()))


# rows per conversion slab: bounds the transient per-column Python
# lists (a 36M-row frame would otherwise hold ~600 MB of intermediate
# list storage on top of the rows themselves)
_SLAB_ROWS = 4 << 20

# Quiesce the driver JVM before materializing LARGE results: after
# toArrow() ships the batches, the JVM holds the collect's garbage, and
# its GC runs CONCURRENTLY with the fault-intensive Python row build.
# Measured on a 36M-row frame (local[32], default G1): the build's
# kernel time inflates from ~3 s to 16-66 s on repeat collects —
# page-allocator contention between GC worker threads and the Python
# process's fault storm (fault count identical, per-fault cost 1.6 us
# -> up to 41 us; fewer GC threads monotonically reduce it, 1 thread
# eliminates it). One explicit System.gc() between the Arrow fetch and
# the build drains that work up front (~0.08 s) and keeps every repeat
# at the fresh-process floor: 8.7-11.6 s flat vs 9.5/46/86 s without.
# Only worth it when the build is long enough to overlap GC, hence the
# row threshold. System.gc() is advisory: under -XX:+DisableExplicitGC
# it does nothing, so the first quiesce in a process reports which case
# applies.
_QUIESCE_MIN_ROWS = 1 << 20
_quiesce_reported = False


def _quiesce_jvm(spark) -> None:
    global _quiesce_reported
    try:
        jvm = spark._jvm
        if not _quiesce_reported:
            _quiesce_reported = True
            args = (jvm.java.lang.management.ManagementFactory
                    .getRuntimeMXBean().getInputArguments())
            state = ("a NO-OP: the driver JVM runs with "
                     "-XX:+DisableExplicitGC"
                     if any(str(a) == "-XX:+DisableExplicitGC" for a in args)
                     else "active")
            print(f"arrow_collect: JVM quiesce (System.gc() before building "
                  f">= {_QUIESCE_MIN_ROWS} rows) is {state}", file=sys.stderr)
        jvm.System.gc()
    except Exception:
        pass  # best-effort: a failed quiesce only costs speed


def rows_from_arrow(tbl, schema: StructType) -> list[Row]:
    fields = schema.fieldNames()
    # Row subclass with __fields__ on the CLASS: Row.__getattr__ /
    # asDict / __repr__ read self.__fields__, which resolves through
    # the class, so instances stay plain field-less tuples.
    cls = type("Row", (Row,), {"__fields__": fields})
    mk = partial(tuple.__new__, cls)
    gc_was_enabled = gc.isenabled()
    if gc_was_enabled:
        gc.disable()  # building millions of tuples; re-enabled below
    try:
        if tbl.num_rows <= _SLAB_ROWS:
            cols = [
                _materialize_column(c, f.dataType)
                for c, f in zip(tbl.columns, schema.fields)
            ]
            return list(map(mk, zip(*cols)))
        out: list[Row] = []
        for lo in range(0, tbl.num_rows, _SLAB_ROWS):
            slab = tbl.slice(lo, _SLAB_ROWS)
            cols = [
                _materialize_column(c, f.dataType)
                for c, f in zip(slab.columns, schema.fields)
            ]
            out.extend(map(mk, zip(*cols)))
        return out
    finally:
        if gc_was_enabled:
            gc.enable()


class ArrowCollectDataFrame(DataFrame):
    """DataFrame whose ``collect()`` crosses the driver boundary as
    Arrow. Everything else (schema, toPandas, writes, further
    transforms) is inherited untouched."""

    def __new__(cls, df: DataFrame):
        # the pyspark.sql.DataFrame.__new__ dispatcher hard-codes the
        # classic class; bypass it so subclassing works
        return object.__new__(cls)

    def __init__(self, df: DataFrame):
        super().__init__(df._jdf, df.sparkSession)

    def collect(self) -> list[Row]:
        schema = self.schema
        if not schema.fields or not all(
            _arrow_safe(f.dataType) for f in schema.fields
        ):
            return super().collect()
        try:
            tbl = super().toArrow()
        except Exception as ex:
            # unsupported type / arrow failure: classic path still
            # works — but is ~10x slower on big frames, so say so
            print(f"arrow_collect: falling back to classic collect "
                  f"({type(ex).__name__}: {ex})", file=sys.stderr)
            return super().collect()
        if tbl.num_rows >= _QUIESCE_MIN_ROWS:
            _quiesce_jvm(self.sparkSession)
        return rows_from_arrow(tbl, schema)


def arrow_collected(df: DataFrame) -> DataFrame:
    """Wrap a DataFrame so its ``collect()`` uses the Arrow path."""
    if isinstance(df, ArrowCollectDataFrame):
        return df
    return ArrowCollectDataFrame(df)
