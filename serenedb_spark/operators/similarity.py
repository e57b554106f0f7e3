"""Similarity search: exact top-k / radius, quantized kNN and IVF ANN.

Reference surface: ANN scan claims (`ORDER BY emb <=> $v LIMIT k` →
IRESEARCH_ANN_SCAN, radius → ANN_RANGE_SCAN;
server/connector/optimizer/iresearch_plan.cpp:927-1014) over an `ivf(...)`
opclass index (server/catalog/index.h:39-40, faiss-backed posting lists)
whose `quant=sq8|pq|rabitq` option changes only how vectors are coded
(server/catalog/index.cpp:300-460).

A quantizer (SQ8, PQ, binary, RaBitQ) supplies three things and nothing
else: its trained stats (driver-side constants, shipped into the plan as
literals), the code columns it writes at build time (`code_cols`) and its
distance from those codes to a query (`code_distance`). Written once here
and shared by every quantizer:
  * `encode` — the build step, (id, code columns);
  * `_top_k` — select (id, distance), optional round, ORDER BY distance,
    id LIMIT k; Catalyst runs it as TakeOrderedAndProject (per-partition
    top-k then merge: no global sort, no shuffle of the corpus).
    `knn_exact`, `knn_codes`, the rerank and `rrf_fuse` all end in it;
  * `rerank_knn` — the quantized top-k shortlists, `knn_exact`'s distance
    re-ranks just those rows (the reference's `SET sdb_rerank_factor`);
  * `_dim_ranges` — the per-dimension min/max trainer;
  * the IVF probe — KMeans centroids (tiny, driver-side), vectors stored
    with a centroid_id column (partitioned by it at scale). A query ranks
    the nprobe nearest centroids on the driver and scans only those
    partitions — centroid_id plays the posting-list key. An `IVFIndex`
    carries its quantizer (None or SQ8), so one `ivf_search` serves both.
Radius search is a plain filter on the distance expression (in-scan).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from serenedb_spark.functions import vector as V


def _top_k(df: DataFrame, id_col: str, dist: Column, k: int | None,
           round_to: int | None = None, name: str = "distance",
           descending: bool = False) -> DataFrame:
    """(id, dist AS name) ordered by (dist, id), first k rows. Spark's
    round never yields -0.0, so rounded output renders canonically."""
    if round_to is not None:
        dist = F.round(dist, round_to)
    order = F.col(name).desc() if descending else F.col(name)
    out = df.select(id_col, dist.alias(name)).orderBy(order, F.col(id_col))
    return out if k is None else out.limit(k)


def _exact_distance(vec_col: str, query_vec, metric: str) -> Column:
    return V.DISTANCES[metric](F.col(vec_col), V.lit_vector(query_vec))


def knn_exact(
    df: DataFrame,
    vec_col: str,
    query_vec,
    k: int = 10,
    metric: str = "cosine",
    id_col: str = "vec_id",
    round_to: int | None = 6,
) -> DataFrame:
    """Brute-force top-k: TakeOrderedAndProject over a distance expression."""
    return _top_k(df, id_col, _exact_distance(vec_col, query_vec, metric),
                  k, round_to)


def radius_search(
    df: DataFrame,
    vec_col: str,
    query_vec,
    radius: float,
    metric: str = "cosine",
    id_col: str = "vec_id",
    round_to: int | None = 6,
) -> DataFrame:
    """`WHERE dist < r` — the ANN range scan, exact."""
    dist = _exact_distance(vec_col, query_vec, metric)
    if round_to is not None:
        dist = F.round(dist, round_to)
    return df.select(id_col, dist.alias("distance")).where(
        F.col("distance") < radius
    )


# ---- quantizers ------------------------------------------------------------

def _dim_ranges(df: DataFrame,
                vec_col: str) -> tuple[list[float], list[float]]:
    """Per-dimension (mins, maxs). posexplode → one small aggregation plan
    (a per-dim expression list would be 2×dim aggregates and blow up
    codegen compile time). Order-independent, hence identical in every
    engine."""
    rows = (
        df.select(F.posexplode(F.col(vec_col)).alias("i", "v"))
        .groupBy("i")
        .agg(F.min(F.col("v").cast("double")).alias("mn"),
             F.max(F.col("v").cast("double")).alias("mx"))
        .orderBy("i")
        .collect()
    )
    return [r.mn for r in rows], [r.mx for r in rows]


def _midranges(df: DataFrame, vec_col: str) -> list[float]:
    mins, maxs = _dim_ranges(df, vec_col)
    return [(mn + mx) / 2.0 for mn, mx in zip(mins, maxs)]


def _fold(arr: Column, zero=0.0) -> Column:
    """Left-fold sum in element order (the oracles' list_reduce order)."""
    return F.aggregate(arr, F.lit(zero), lambda acc, x: acc + x)


class Quantizer:
    """Trained stats plus two column builders: `code_cols(vec)`, the code
    columns written at build time, and `code_distance(query_vec, metric)`,
    the distance from those columns to a query."""

    #: the column the quantized top-k reports
    dist_name = "distance"
    #: the column the exact rerank reports
    exact_name = "distance"
    #: `encode`'s physical path under method="auto"
    encode_method = "expr"

    def code_cols(self, vec: Column) -> list[Column]:
        raise NotImplementedError

    def code_distance(self, query_vec, metric: str) -> Column:
        raise NotImplementedError


class SQ8(Quantizer):
    """Per-dimension min/max scalar quantization to uint8 codes — the
    reference's `quant=sq8` (faiss SQ8). Train stats are 2×dim floats;
    encode/decode are constant-size zip_with arithmetic (portable to the
    oracle, and compile time does not grow with dim).

    code_i  = floor(255 * (v_i - min_i) / (max_i - min_i) + 0.5), clamped
    v̂_i     = min_i + code_i * (max_i - min_i) / 255
    """

    def __init__(self, mins: list[float], maxs: list[float]):
        self.mins = mins
        self.maxs = maxs

    @classmethod
    def train(cls, df: DataFrame, vec_col: str = "embedding") -> "SQ8":
        return cls(*_dim_ranges(df, vec_col))

    def _scales(self) -> Column:
        return V.lit_vector([mx - mn if mx - mn != 0 else 1.0
                             for mn, mx in zip(self.mins, self.maxs)])

    def encode_col(self, vec: Column) -> Column:
        shifted = F.zip_with(vec, V.lit_vector(self.mins),
                             lambda v, mn: v.cast("double") - mn)
        return F.zip_with(
            shifted, self._scales(),
            lambda d, sc: F.greatest(
                F.least(F.floor(F.lit(255.0) * d / sc + F.lit(0.5)),
                        F.lit(255.0)),
                F.lit(0.0)).cast("int"))

    def decode_col(self, codes: Column) -> Column:
        scaled = F.zip_with(
            codes, self._scales(),
            lambda c, sc: c.cast("double") * sc / F.lit(255.0))
        return F.zip_with(scaled, V.lit_vector(self.mins),
                          lambda s, mn: mn + s)

    def code_cols(self, vec: Column) -> list[Column]:
        return [self.encode_col(vec).alias("codes")]

    def code_distance(self, query_vec, metric: str) -> Column:
        return V.DISTANCES[metric](self.decode_col(F.col("codes")),
                                   V.lit_vector(query_vec))


class PQ(Quantizer):
    """Product quantization — the reference's `quant=pq` (faiss PQ).

    The vector is split into ``m`` subspaces of ``dim/m`` dims; each
    subvector is coded as the id of its nearest sub-centroid. The code
    distance is ADC (asymmetric distance computation, squared L2 whatever
    the metric): a tiny ``m × ksub`` lookup table of query→centroid
    distances, summed by code. Codebooks are ``m·ksub·(dim/m)`` doubles,
    driver-side; a query reads m codes per row, never the raw vectors.
    """

    def __init__(self, codebooks: list[list[list[float]]]):
        self.codebooks = codebooks  # m × ksub × ds
        self.m = len(codebooks)
        self.ksub = len(codebooks[0])
        self.ds = len(codebooks[0][0])

    @classmethod
    def from_seed_rows(cls, seed_vectors: list[list[float]], m: int) -> "PQ":
        """Deterministic sampled codebook (k-means init without Lloyd
        iterations): sub-centroid j of subspace s = subvector s of seed j.
        Fully reproducible in SQL — the differential-oracle path."""
        dim = len(seed_vectors[0])
        ds = dim // m
        return cls([
            [[float(v[s * ds + i]) for i in range(ds)] for v in seed_vectors]
            for s in range(m)
        ])

    @classmethod
    def train(cls, df: DataFrame, vec_col: str, m: int, ksub: int = 16,
              seed: int = 42, max_iter: int = 20) -> "PQ":
        """Quality path: per-subspace MLlib KMeans codebooks."""
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        dim = len(df.select(vec_col).first()[0])
        ds = dim // m
        books = []
        for s in range(m):
            feat = df.select(
                array_to_vector(
                    F.transform(
                        F.slice(F.col(vec_col), s * ds + 1, ds),
                        lambda x: x.cast("double"),
                    )
                ).alias("__sub")
            )
            km = KMeans(k=ksub, seed=seed + s, maxIter=max_iter,
                        featuresCol="__sub")
            books.append([c.tolist() for c in km.fit(feat).clusterCenters()])
        return cls(books)

    def _sub_dist(self, vec: Column, s: int, centroid: list[float]) -> Column:
        sub = F.transform(
            F.slice(vec, s * self.ds + 1, self.ds), lambda x: x.cast("double")
        )
        return _fold(F.zip_with(sub, V.lit_vector(centroid),
                                lambda x, y: (x - y) * (x - y)))

    def encode_col(self, vec: Column) -> Column:
        """array<int> of m 1-based codes (first-minimum tie-break — matches
        the oracle's min-j-at-min-distance)."""
        codes = []
        for s in range(self.m):
            dists = F.array(*[
                self._sub_dist(vec, s, self.codebooks[s][j])
                for j in range(self.ksub)
            ])
            codes.append(F.array_position(dists, F.array_min(dists)))
        return F.array(*[c.cast("int") for c in codes])

    def code_cols(self, vec: Column) -> list[Column]:
        return [self.encode_col(vec).alias("codes")]

    def code_distance(self, query_vec, metric: str) -> Column:
        # the LUT: squared L2 from each query subvector to each centroid,
        # folded in dimension order like _sub_dist and the SQL oracle
        lut = []
        for s in range(self.m):
            row = []
            for j in range(self.ksub):
                acc = 0.0
                for i in range(self.ds):
                    d = float(query_vec[s * self.ds + i]) - self.codebooks[s][j][i]
                    acc = acc + d * d
                row.append(acc)
            lut.append(V.lit_vector(row))
        return _fold(F.zip_with(F.col("codes"), F.array(*lut),
                                lambda c, row: F.element_at(row, c)))


class BinaryQuant(Quantizer):
    """1-bit-per-dimension sign quantization — the uncorrected core of the
    reference's `quant=rabitq` family: bit_i = v_i > mid_i with mid the
    per-dim midrange; the code distance is Hamming (an integer, exact in
    every engine). Midrange (not mean) keeps training order-independent.
    32× smaller than float32 at scale (int arrays here, for portable
    exactness)."""

    dist_name = "hamming"

    def __init__(self, mids: list[float]):
        self.mids = mids

    @classmethod
    def train(cls, df: DataFrame, vec_col: str = "embedding") -> "BinaryQuant":
        return cls(_midranges(df, vec_col))

    def code_cols(self, vec: Column) -> list[Column]:
        return [F.zip_with(
            vec, V.lit_vector(self.mids),
            lambda v, mid: F.when(v.cast("double") > mid, F.lit(1))
            .otherwise(F.lit(0)),
        ).alias("bits")]

    def code_distance(self, query_vec, metric: str) -> Column:
        qb = F.array(*[F.lit(1 if float(q) > m else 0)
                       for q, m in zip(query_vec, self.mids)])
        return _fold(
            F.zip_with(F.col("bits"), qb, lambda a, b: F.when(
                a != b, F.lit(1)).otherwise(F.lit(0))),
            zero=0)


class RaBitQ(Quantizer):
    """RaBitQ-style 1-bit quantization (the reference's `quant=rabitq`
    family; published algorithm: Gao & Long, SIGMOD 2024): residuals
    against a fixed centroid are passed through a SEEDED random orthogonal
    rotation, the sign bits of the rotated residual are stored together
    with two per-vector correction scalars (residual norm, <quantized-unit,
    unit>), and the code distance is the unbiased estimator

        <o, q̂> ≈ <ō, q̂> / <ō, ô>
        dist²(x, q) ≈ ||o||² + ||q-c||² - 2 ||o|| ||q-c|| <o, q̂>

    Engine-portability: every float is produced by the SAME left-fold
    summation order in Spark (zip_with + aggregate), DuckDB
    (list_transform + list_reduce) and driver-side Python, so the
    estimate — not just the bits — is bit-identical and the whole path
    stays oracle-gated. The centroid is the per-dim midrange (order-
    independent, unlike a float mean); the rotation is Q from the QR of a
    seeded Gaussian matrix, shipped as literals into both engines.

    Two encode paths: ``expr`` — column expressions with the rotation as
    dim² literals, bit-identical to the oracle but impossible to compile
    at real embedding dims (1536² ≈ 2.4M literal nodes); ``numpy`` —
    Arrow-batched mapInPandas, the rotation broadcast once (float64,
    ~18 MB at 1536 dims), one BLAS matmul per batch; its pairwise
    summation may differ from the left-fold in the last ulp. ``auto``
    picks expr at/below 64 dims (every gate query), numpy above.
    """

    dist_name = "est_d2"
    exact_name = "d2"

    def __init__(self, centroid: list[float], rotation: list[list[float]]):
        self.centroid = centroid
        self.rotation = rotation          # row-major: rot[j] = output dim j
        self.dim = len(centroid)
        self._inv_sqrt_d = 1.0 / math.sqrt(self.dim)

    @property
    def encode_method(self) -> str:
        return "expr" if self.dim <= 64 else "numpy"

    @staticmethod
    def rotation_matrix(dim: int, seed: int = 7) -> list[list[float]]:
        """Seeded random orthogonal matrix (Q of a Gaussian QR,
        sign-fixed) — data-INDEPENDENT, so oracles can regenerate it
        without training."""
        import numpy as np

        rng = np.random.default_rng(seed)
        q, r = np.linalg.qr(rng.standard_normal((dim, dim)))
        q = q * np.sign(np.diag(r))
        return [[float(x) for x in row] for row in q]

    @classmethod
    def train(cls, df: DataFrame, vec_col: str = "embedding",
              seed: int = 7) -> "RaBitQ":
        centroid = _midranges(df, vec_col)
        return cls(centroid, cls.rotation_matrix(len(centroid), seed))

    def code_cols(self, vec: Column) -> list[Column]:
        """bits array<int>, norm double, obar_o double."""
        res = F.zip_with(vec, V.lit_vector(self.centroid),
                         lambda v, c: v.cast("double") - c)
        norm = F.sqrt(_fold(F.transform(res, lambda x: x * x)))
        rots = [_fold(F.zip_with(res, V.lit_vector(self.rotation[j]),
                                 lambda a, b: a * b))
                for j in range(self.dim)]
        bits = F.array(*[
            F.when(r > 0, F.lit(1)).otherwise(F.lit(0)) for r in rots])
        # <ō, o> = Σ ±(1/√D)·rot_j / ||res|| — left fold in dim order
        signed = [
            F.when(r > 0, F.lit(self._inv_sqrt_d))
            .otherwise(F.lit(-self._inv_sqrt_d)) * r
            for r in rots
        ]
        acc = signed[0]
        for t in signed[1:]:
            acc = acc + t
        obar_o = F.when(norm > 0, acc / norm).otherwise(F.lit(0.0))
        return [bits.alias("bits"), norm.alias("norm"),
                obar_o.alias("obar_o")]

    def encode_numpy(self, df: DataFrame, vec_col: str,
                     id_col: str) -> DataFrame:
        """The code columns by mapInPandas + one matmul per Arrow batch."""
        import numpy as np

        b_rot = df.sparkSession.sparkContext.broadcast(
            np.asarray(self.rotation, dtype=np.float64))
        cen = np.asarray(self.centroid, dtype=np.float64)
        s = self._inv_sqrt_d

        def encode_batches(batches):
            import pandas as pd

            rot_t = b_rot.value.T  # res @ R.T: rot[:, j] = res · rotation[j]
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                vecs = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
                res = vecs - cen
                norm = np.sqrt((res * res).sum(axis=1))
                rot = res @ rot_t
                signed = np.where(rot > 0, s, -s) * rot
                with np.errstate(divide="ignore", invalid="ignore"):
                    obar = np.where(norm > 0, signed.sum(axis=1) / norm, 0.0)
                yield pd.DataFrame({
                    id_col: pdf[id_col],
                    "bits": list((rot > 0).astype(np.int32)),
                    "norm": norm,
                    "obar_o": obar,
                })

        out_schema = (f"{id_col} {df.schema[id_col].dataType.simpleString()},"
                      " bits array<int>, norm double, obar_o double")
        return df.select(id_col, vec_col).mapInPandas(
            encode_batches, schema=out_schema)

    def query_transform(self, query_vec,
                        fast: bool | None = None) -> tuple[list[float], float]:
        """Driver-side: (rotated normalized query residual, ||q - c||) —
        the same left-fold float order as the engine expressions. With
        ``fast`` (default above 64 dims, matching the encode path's
        method switch) the rotation is one numpy matvec instead of a
        dim² Python loop — last-ulp summation differences, scale path
        only."""
        if fast is None:
            fast = self.dim > 64
        if fast:
            import numpy as np

            res_a = (np.asarray([float(q) for q in query_vec])
                     - np.asarray(self.centroid))
            qnorm = float(np.sqrt((res_a * res_a).sum()))
            rot_a = np.asarray(self.rotation) @ res_a
            if qnorm > 0:
                rot_a = rot_a / qnorm
            else:
                rot_a = np.zeros_like(rot_a)
            return [float(x) for x in rot_a], qnorm
        res = [float(q) - c for q, c in zip(query_vec, self.centroid)]
        qnorm = 0.0
        for x in res:
            qnorm = qnorm + x * x
        qnorm = math.sqrt(qnorm)
        rot = []
        for j in range(self.dim):
            acc = 0.0
            for a, b in zip(res, self.rotation[j]):
                acc = acc + a * b
            rot.append(acc / qnorm if qnorm > 0 else 0.0)
        return rot, qnorm

    def code_distance(self, query_vec, metric: str) -> Column:
        qrot, qnorm = self.query_transform(query_vec)
        s = F.lit(self._inv_sqrt_d)
        obar_q = _fold(F.zip_with(
            F.col("bits"), V.lit_vector(qrot),
            lambda b, qv: (F.when(b == 1, s).otherwise(-s)) * qv))
        est_oq = F.when(F.col("obar_o") != 0.0,
                        obar_q / F.col("obar_o")).otherwise(F.lit(0.0))
        return (F.col("norm") * F.col("norm") + F.lit(qnorm * qnorm)
                - F.lit(2.0) * F.col("norm") * F.lit(qnorm) * est_oq)


def encode(df: DataFrame, q: Quantizer, vec_col: str,
           id_col: str = "vec_id", method: str = "auto") -> DataFrame:
    """Index-build step: (id, the quantizer's code columns). Written once
    and persisted; queries read the codes, never the raw vectors."""
    if method == "auto":
        method = q.encode_method
    if method == "numpy":
        return q.encode_numpy(df, vec_col, id_col)
    return df.select(F.col(id_col), *q.code_cols(F.col(vec_col)))


def knn_codes(
    codes: DataFrame,
    q: Quantizer,
    query_vec,
    k: int = 10,
    metric: str = "cosine",
    id_col: str = "vec_id",
    round_to: int | None = 6,
) -> DataFrame:
    """Quantized top-k over PRE-ENCODED codes: per-query work is the code
    distance per row; the corpus-wide encode happened once at build."""
    return _top_k(codes, id_col, q.code_distance(query_vec, metric), k,
                  round_to, q.dist_name)


def rerank_knn(
    codes: DataFrame,
    vectors: DataFrame,
    q: Quantizer,
    query_vec,
    k: int = 10,
    shortlist: int = 100,
    vec_col: str = "embedding",
    metric: str = "l2_sqr",
    id_col: str = "vec_id",
    round_to: int | None = 6,
) -> DataFrame:
    """Quantized shortlist → exact re-rank (the reference's `SET
    sdb_rerank_factor`, server/connector/duckdb_table_function.h:88-124):
    the quantized top-`shortlist` from codes alone, then exact distances
    on just those rows give the top-k — at scale the float columns are
    read through a semi-join on the shortlist."""
    short = knn_codes(codes, q, query_vec, shortlist, metric, id_col,
                      round_to).select(id_col)
    return _top_k(vectors.join(short, id_col, "left_semi"), id_col,
                  _exact_distance(vec_col, query_vec, metric), k, round_to,
                  q.exact_name)


# ---- IVF ------------------------------------------------------------------

class IVFIndex:
    """IVF 'index': assigned vectors + a small centroid table, and the
    quantizer whose codes `assigned` carries (None: raw vectors only).

    At 100 TB the `assigned` table is written partitioned by centroid_id so
    a query touches only nprobe partitions (partition pruning on the IN
    filter); centroids stay a driver-side list (nlist ≤ a few thousand).
    """

    def __init__(self, assigned: DataFrame, centroids: list[list[float]],
                 vec_col: str, id_col: str, metric: str,
                 quant: SQ8 | None = None):
        self.assigned = assigned  # (id_col, vec_col, centroid_id[, codes])
        self.centroids = centroids
        self.vec_col = vec_col
        self.id_col = id_col
        self.metric = metric
        self.quant = quant


def ivf_build(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nlist: int = 16,
    metric: str = "cosine",
    seed: int = 42,
    max_iter: int = 20,
    train_sample_factor: int | None = None,
    quant: str | None = None,
) -> IVFIndex:
    """KMeans (MLlib, fixed seed) → centroid assignment column; with
    ``quant="sq8"`` (the reference's `ivf(quant=sq8)`) the SQ8 codes are
    stored beside it, so a probe reads nprobe partitions of uint8 codes.

    ``train_sample_factor`` (the reference's SET sdb_ivf_sample_factor):
    fit the centroids on ~nlist × factor rows instead of the full corpus —
    at 100 TB the KMeans fit must sample (assignment still covers every
    row). The sample is the rows of least id hash: deterministic whatever
    the partitioning. None keeps full-corpus training."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if quant not in (None, "sq8"):
        raise ValueError(f"unknown quant {quant!r}")
    sq = SQ8.train(df, vec_col) if quant == "sq8" else None
    feat = df.select(
        F.col(id_col),
        F.col(vec_col),
        array_to_vector(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("__features"),
    )
    train = feat
    if train_sample_factor is not None:
        target = nlist * train_sample_factor
        if df.count() > target:
            keep = _top_k(df, id_col, F.xxhash64(F.col(id_col), F.lit(seed)),
                          target).select(id_col)
            train = feat.join(keep, id_col, "left_semi")
    km = KMeans(k=nlist, seed=seed, maxIter=max_iter, featuresCol="__features")
    model = km.fit(train)
    assigned = model.transform(feat).select(
        id_col, vec_col, F.col(model.getPredictionCol()).alias("centroid_id"),
        *(sq.code_cols(F.col(vec_col)) if sq else []),
    )
    centroids = [c.tolist() for c in model.clusterCenters()]
    return IVFIndex(assigned, centroids, vec_col, id_col, metric, sq)


def _probes(idx: IVFIndex, query_vec, nprobe: int) -> list[int]:
    """The nprobe centroids nearest the query (a driver-side sort of a
    tiny list), ties by centroid id."""
    q = [float(x) for x in query_vec]

    def dist(c):
        if idx.metric == "cosine":
            dot = sum(a * b for a, b in zip(c, q))
            na = math.sqrt(sum(a * a for a in c))
            nb = math.sqrt(sum(b * b for b in q))
            return 1.0 - dot / (na * nb) if na and nb else 1.0
        if idx.metric in ("l2", "l2_sqr"):
            return sum((a - b) ** 2 for a, b in zip(c, q))
        if idx.metric == "ip":
            return -sum(a * b for a, b in zip(c, q))
        raise ValueError(idx.metric)

    order = sorted(range(len(idx.centroids)),
                   key=lambda i: (dist(idx.centroids[i]), i))
    return order[:nprobe]


def ivf_search(
    idx: IVFIndex,
    query_vec,
    k: int = 10,
    nprobe: int = 4,
    rerank_factor: int | None = None,
    round_to: int | None = 6,
) -> DataFrame:
    """nprobe nearest centroids → partition-pruned scan → top-k: exact
    over raw vectors, or over the index's SQ8 codes; with rerank_factor
    the codes shortlist k·factor rows for an exact re-rank."""
    cand = idx.assigned.where(
        F.col("centroid_id").isin(_probes(idx, query_vec, nprobe)))
    if idx.quant is None:
        return knn_exact(cand, idx.vec_col, query_vec, k, idx.metric,
                         idx.id_col, round_to)
    if rerank_factor is None:
        return knn_codes(cand, idx.quant, query_vec, k, idx.metric,
                         idx.id_col, round_to)
    return rerank_knn(cand, idx.assigned, idx.quant, query_vec, k,
                      k * rerank_factor, idx.vec_col, idx.metric,
                      idx.id_col, round_to)


def ivf_save(idx: IVFIndex, path: str) -> None:
    """Persist the IVF layout partitioned by centroid_id — a probe query
    reads exactly nprobe of nlist partition directories (partition pruning,
    the vector twin of the term-bucket postings layout). Centroids and
    SQ8 stats go to the manifest (tiny, driver-side)."""
    import json
    import os

    (
        idx.assigned.repartition("centroid_id")
        .write.mode("overwrite").partitionBy("centroid_id")
        .parquet(f"{path}/assigned")
    )
    os.makedirs(path, exist_ok=True)
    with open(f"{path}/manifest.json", "w") as f:
        json.dump({
            "centroids": idx.centroids,
            "vec_col": idx.vec_col,
            "id_col": idx.id_col,
            "metric": idx.metric,
            "sq8": [idx.quant.mins, idx.quant.maxs] if idx.quant else None,
        }, f)


def ivf_load(spark, path: str) -> IVFIndex:
    import json

    with open(f"{path}/manifest.json") as f:
        m = json.load(f)
    return IVFIndex(
        spark.read.parquet(f"{path}/assigned"),
        m["centroids"], m["vec_col"], m["id_col"], m["metric"],
        SQ8(*m["sq8"]) if m.get("sq8") else None,
    )


# ---- hybrid ---------------------------------------------------------------

def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    id_col: str = "doc_id",
    k: int = 60,
    limit: int | None = 10,
) -> DataFrame:
    """Reciprocal-rank fusion of two ranked lists (the standard hybrid
    text+vector combiner): score = Σ 1/(k + rank_i); docs missing from a
    list contribute 0. Inputs must carry a ``rank`` column (1-based).

    Scale shape: both inputs are already top-N (small); the fusion is a
    broadcast-sized full-outer join + sort."""
    a = ranked_a.select(F.col(id_col), F.col("rank").alias("rank_a"))
    b = ranked_b.select(F.col(id_col), F.col("rank").alias("rank_b"))
    score = (F.coalesce(1.0 / (F.lit(k) + F.col("rank_a")), F.lit(0.0))
             + F.coalesce(1.0 / (F.lit(k) + F.col("rank_b")), F.lit(0.0)))
    return _top_k(a.join(b, id_col, "full_outer"), id_col, score, limit,
                  6, "rrf_score", descending=True)


def ranked(df: DataFrame, order_col: str, id_col: str = "doc_id",
           ascending: bool = True) -> DataFrame:
    """Attach a deterministic 1-based ``rank`` ((order_col, id) ordering)."""
    from pyspark.sql import Window

    oc = F.col(order_col) if ascending else F.col(order_col).desc()
    w = Window.orderBy(oc, F.col(id_col))
    return df.withColumn("rank", F.row_number().over(w))


def hybrid_search(
    docs_with_vec: DataFrame,
    match_ids: DataFrame,
    vec_col: str,
    query_vec,
    k: int = 10,
    metric: str = "cosine",
    id_col: str = "doc_id",
    round_to: int | None = 6,
) -> DataFrame:
    """FTS filter ∧ ANN order (reference demo4 Q3 hybrid shape): semi-join
    the text-match doc ids, then exact top-k by vector distance."""
    filtered = docs_with_vec.join(match_ids, id_col, "left_semi")
    return knn_exact(
        filtered, vec_col, query_vec, k=k, metric=metric,
        id_col=id_col, round_to=round_to,
    )
