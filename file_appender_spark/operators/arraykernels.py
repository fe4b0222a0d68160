"""The one home of vector math for the embedding operators.

Every dot product, sign bit and double cast that ``similarity``,
``pq``, ``dispatch``, ``neardup_ingest`` and the vector queries take
lives here, in the spellings that must agree bit for bit:

- **JVM spellings.** ``dot`` is ``aggregate(zip_with(a, b, x * y),
  0.0, s + x)``: a sequential left fold, NULL when either side is
  NULL, holds a NULL element or has a different width (``zip_with``
  pads the shorter side with NULLs). ``as_double`` and ``sql_double``
  are the Column cast and the round-tripping SQL literal.
- **numpy spellings.** ``fold_dot`` runs the same left fold over the
  last axis, vectorized over rows — never ``np.dot``, whose pairwise
  sum rounds differently. ``sign_bits`` is Spark's ``x >= 0``, which
  is TRUE for NaN (NaN sorts above every number). ``zero_divisor`` is
  Spark's Divide on a zero divisor: DIVIDE_BY_ZERO under ANSI, NULL
  with ANSI off, never IEEE Inf/NaN.
- **Per-row replica.** ``row_fold`` is one ``aggregate(zip_with)``
  in plain Python, NULL padding included.
- **The Arrow pass.** ``map_vectors`` is the one ``mapInArrow``
  pass. It casts the vector columns to ``list<double>``, sends clean
  batches (no NULL vector, element or number, one width, plus an
  optional per-operator check) to a vectorized function and every
  other batch row by row to a replica.

At 100 TB the kernels run inside the map tasks and collect nothing.
"""

from __future__ import annotations

import operator
import sys

from pyspark import cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# the kernels run inside Python workers, which need not be able to
# import this package: ship them by value, like the closures that
# call them
cloudpickle.register_pickle_by_value(sys.modules[__name__])

_ARROW_TYPES = {"double": "float64", "bigint": "int64", "int": "int32"}


def dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
    )


def as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def sql_double(x: float) -> str:
    """SQL double literal that parses back to the same IEEE-754 value
    (repr is the shortest round-tripping decimal)."""
    return f"{x!r}D"


def fold_dot(a, b):
    """``dot`` over the last axis in numpy: ``((0 + a0*b0) + a1*b1) +
    ...`` in order, so every intermediate rounding is the JVM's.
    Broadcasts: a (rows, dim) matrix against a (dim,) vector gives one
    value per row."""
    import numpy as np

    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    acc = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))
    with np.errstate(invalid="ignore", over="ignore"):
        for j in range(a.shape[-1]):
            acc = acc + a[..., j] * b[..., j]
    return acc


def sign_bits(x):
    """Spark's ``x >= 0``: NaN gives TRUE there but False in numpy, so
    the bit is spelled ``~(x < 0)``."""
    import numpy as np

    return ~(np.asarray(x) < 0)


def row_fold(a, b, term=operator.mul):
    """One ``aggregate(zip_with(a, b, term), 0.0, s + x)`` in Python:
    None for a NULL side, a NULL element or a width mismatch."""
    if a is None or b is None or len(a) != len(b):
        return None
    acc = 0.0
    for x, y in zip(a, b):
        if x is None or y is None:
            return None
        acc = acc + term(float(x), float(y))
    return acc


def zero_divisor(den, ansi: bool):
    """Mask of zero divisors, for rows with a non-NULL numerator (Spark
    returns NULL for a NULL numerator before it looks at the divisor).
    Under ANSI a zero divisor raises, as the engine does."""
    import numpy as np

    zero = np.asarray(den) == 0.0
    if ansi and zero.any():
        raise ArithmeticError(
            "[DIVIDE_BY_ZERO] zero divisor under ANSI mode — the engine "
            "spelling raises here too"
        )
    return zero


def map_vectors(
    df: DataFrame,
    keep: list[str],
    vecs: list[str],
    out: list[tuple[str, str]],
    fast,
    slow,
    nums: tuple[str, ...] = (),
    width: int | None = None,
    clean=None,
    emit_vecs: bool = False,
) -> DataFrame:
    """One ``mapInArrow`` pass over ``keep + vecs + nums``.

    Output columns are ``keep`` as read, then the cast ``vecs`` when
    ``emit_vecs``, then ``out`` (``(name, type)`` with type double,
    bigint or int). A batch is clean when no vector, element or
    ``nums`` value is NULL, every vector has one width (``width`` when
    given) and ``clean(*mats)`` holds; clean batches call
    ``fast(*mats, *nums)`` with (rows, width) float64 matrices and
    float64 arrays and get back one array per ``out`` column (a numpy
    masked array for NULLs). Other batches call ``slow(*row)`` per row
    with Python lists/floats (None for NULL) and get back one value
    per ``out`` column."""
    nk, nv = len(keep), len(vecs)
    names = [*keep, *(vecs if emit_vecs else []), *(n for n, _ in out)]
    schema = ", ".join(
        [f"`{c}` {df.schema[c].dataType.simpleString()}" for c in keep]
        + [f"`{v}` array<double>" for v in vecs if emit_vecs]
        + [f"`{n}` {t}" for n, t in out]
    )

    def compute(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        types = [getattr(pa, _ARROW_TYPES[t])() for _, t in out]
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            cols = rb.columns
            vs = [pc.cast(c, pa.list_(pa.float64())) for c in cols[nk:nk + nv]]
            ns = cols[nk + nv:]
            widths = {
                w
                for v in vs
                for w in (
                    pc.min(pc.list_value_length(v)).as_py(),
                    pc.max(pc.list_value_length(v)).as_py(),
                )
            }
            ok = (
                all(v.null_count == 0 and v.flatten().null_count == 0 for v in vs)
                and all(x.null_count == 0 for x in ns)
                and len(widths) == 1
                and (width is None or widths == {width})
            )
            if ok:
                (w,) = widths
                mats = [
                    v.flatten().to_numpy(zero_copy_only=False).reshape(n, w)
                    for v in vs
                ]
                ok = clean is None or clean(*mats)
            if ok:
                res = fast(*mats, *(x.to_numpy(zero_copy_only=False) for x in ns))
            else:
                pls = [c.to_pylist() for c in (*vs, *ns)]
                res = list(zip(*(slow(*row) for row in zip(*pls))))
            yield pa.RecordBatch.from_arrays(
                [
                    *cols[:nk],
                    *(vs if emit_vecs else []),
                    *(pa.array(c, type=t) for c, t in zip(res, types)),
                ],
                names=names,
            )

    return df.select(*keep, *vecs, *nums).mapInArrow(compute, schema=schema)
