"""Per-vector affine int8 quantization — the storage/IO half of the
similarity-search stack (text/simsearch.py holds the compute half): at
10^12 documents a float32 embedding column is ~3 TB per 768 dims per
billion rows, and every production vector store ships int8-quantized
vectors with per-vector scale/zero-point exactly like this (public
technique: affine/asymmetric quantization, the ONNX/FAISS formulation).

Codes: for vector x with lo = min(x), hi = max(x),
    code_i = clamp(⌊(x_i − lo) · 255 / (hi − lo)⌋, 0, 255)
(the x_i = hi element may land on 254 or 255 depending on rounding of
the two IEEE ops — both engines compute the identical expression tree,
so the oracle matches bit-for-bit either way; the clamp bounds it).
Constant vectors (hi == lo) quantize to all-zero codes with scale 0.

Dequantization error is bounded by scale = (hi − lo)/255 per element —
the caller's recall trade-off, measured here by emitting the scale.

Everything is built-in column algebra (transform / array_min / array_max
— NO UDF, no Arrow round-trip): map-only, zero shuffle, whole-stage
codegen. Elements are cast to DOUBLE before arithmetic on BOTH engines
so float32 promotion rules cannot diverge.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ops.latest import top_k


def quantize_embeddings(emb: DataFrame) -> DataFrame:
    """(vec_id, lo, scale, codes array<int>, dim) per non-empty vector.

    r6 (guide §4.1/§4.2): the transform/array_min/array_max column
    algebra is INTERPRETED per element (higher-order functions get no
    codegen), which dominated this map-only query; the same expression
    tree now runs as one vectorized Arrow kernel. Bit-exactness is free
    here: min/max are order-independent, and every per-element op —
    (v − lo) · 255.0 / span, floor, clamp — is an independent IEEE
    float64 expression numpy evaluates identically (float32 → float64
    promotion is exact on both paths).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<lo:double, scale:double, codes:array<int>, dim:int>")
    def _quant(vecs: pd.Series) -> pd.DataFrame:
        los, scales, codes_out, dims = [], [], [], []
        for v in vecs:
            x = np.asarray(v, dtype=np.float64)
            lo = float(np.min(x))
            hi = float(np.max(x))
            span = hi - lo
            if span == 0.0:
                codes = np.zeros(len(x), dtype=np.int32)
            else:
                codes = np.clip(
                    np.floor((x - lo) * 255.0 / span), 0, 255
                ).astype(np.int32)
            los.append(lo)
            scales.append(span / 255.0)
            codes_out.append(codes.tolist())
            dims.append(np.int32(len(x)))
        return pd.DataFrame(
            {"lo": los, "scale": scales, "codes": codes_out, "dim": dims}
        )

    q = _quant(F.col("embedding"))
    return emb.filter(F.size("embedding") > 0).select(
        F.col("vec_id"),
        q["lo"].alias("lo"),
        q["scale"].alias("scale"),
        q["codes"].alias("codes"),
        q["dim"].alias("dim"),
    )


def int8_topk(codes: DataFrame, query_ids: list[int]) -> DataFrame:
    """Top-5 neighbours by integer dot product of int8 CODES — the
    compute half over the quantized store (symmetric code-space ranking,
    the public FAISS scalar-quantizer shape): search runs on the 4×
    smaller int8 column without dequantizing, which is the point of
    storing codes at 10^12 rows.

    Input: `quantize_embeddings` output; `query_ids` a BOUNDED id list
    (broadcast side). Output: (query_id, vec_id, dot) — 5 rows per query,
    self excluded, ties broken by vec_id ascending.

    Exactness: dot(q, c) = Σ code_q·code_c ≤ 255²·dim per pair — exact
    BIGINT on Spark, exact ≤2⁵³ DOUBLE in DuckDB's list_dot_product, so
    the oracle matches bit-for-bit INCLUDING tie order. The whole score
    is `zip_with` + `aggregate` — JVM codegen, no UDF, no Arrow crossing.

    Scale shape: queries broadcast (the cosine_topk pattern), ONE scan of
    the code table, per-query TakeOrdered state 5-bounded. The same
    IVF-bucket pre-filter simsearch uses for float vectors composes in
    front unchanged when the corpus side is too big for a full scan.
    """
    q = codes.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("codes").alias("qcodes"))

    # r6 (guide §4.1): the per-pair zip_with+aggregate fold is interpreted
    # (no codegen for higher-order functions); integer sums are order-free,
    # so the vectorized int64 kernel is exact by construction. Ragged pairs
    # (differing dims) fall back to a per-row exact loop.
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def dot8(qc: pd.Series, cc: pd.Series) -> pd.Series:
        if len(qc) == 0:
            return pd.Series([], dtype="int64")
        lens_q = np.array([len(v) for v in qc])
        lens_c = np.array([len(v) for v in cc])
        if (lens_q == lens_q[0]).all() and (lens_c == lens_q[0]).all():
            X = np.stack([np.asarray(v, dtype=np.int64) for v in qc])
            Y = np.stack([np.asarray(v, dtype=np.int64) for v in cc])
            return pd.Series(np.einsum("ij,ij->i", X, Y))
        # zip_with pads the shorter side with NULL → NULL dot; mirror that
        return pd.Series([
            sum(int(a) * int(b) for a, b in zip(x, y))
            if len(x) == len(y) else None
            for x, y in zip(qc, cc)
        ], dtype="object")

    dot = dot8(F.col("qcodes"), F.col("codes"))
    pairs = codes.join(F.broadcast(q), codes["vec_id"] != q["query_id"]).select(
        "query_id", "vec_id", dot.alias("dot"))
    return top_k(pairs, ["query_id"], [F.desc("dot"), "vec_id"], 5)
