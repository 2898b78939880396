"""Similarity search over an embedding column (array<float>).

* brute-force cosine top-k — the exactness baseline: query × corpus
  join, dot product via zip_with/aggregate (JVM-side, codegen'd), top-k
  by window rank. Right answer at any scale where queries are few or
  the corpus side is broadcastable.
* LSH-bucketed ANN — the scale path: sign-of-projection bit buckets on
  deterministic hyperplanes; candidates = bucket co-residents (with
  multi-probe via bit flips), then exact cosine re-rank within buckets.
  At 10^12 rows the bucket join shuffles only (id, bucket) pairs.
"""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


_UNROLL_MAX = 16  # see _dot: bigger chains trip HotSpot's 8KB JIT refusal

# Largest query side the search operators collect to the driver (it
# ships with every task closure, so it must stay small)
MAX_QUERY_ROWS = 100_000


def _collect_query_side(df: DataFrame, op: str) -> list:
    """``df``'s rows on the driver; ValueError naming ``op`` when there
    are more than MAX_QUERY_ROWS."""
    rows = df.limit(MAX_QUERY_ROWS + 1).collect()
    if len(rows) > MAX_QUERY_ROWS:
        raise ValueError(f"{op}: query side has more than "
                         f"{MAX_QUERY_ROWS} rows to collect")
    return rows


def _dot(a, b, dim: int | None = None):
    """Left-to-right multiply-add fold ``((0.0 + a1*b1) + a2*b2) + ...``.

    With a SMALL known ``dim`` the chain is emitted unrolled (plain
    codegen'd GetArrayItem arithmetic); both forms produce the
    bitwise-identical double (same operand order, same leading 0.0).
    Large dims deliberately stay on the fold: a 64-term unrolled chain
    pushes the generated consume() method past HotSpot's
    DontCompileHugeMethods 8KB bytecode limit, the JIT refuses the
    method, and the whole fused stage runs in the bytecode interpreter
    — measured 3-5x SLOWER than the fold at dim=64 (this round's
    first attempt).  The dim=64 pair-scoring hot paths instead batch
    through numpy (see _pair_scores_arrow)."""
    if dim is None or dim > _UNROLL_MAX:
        return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                           F.lit(0.0), lambda acc, v: acc + v)
    acc = F.lit(0.0)
    for d in range(dim):
        acc = acc + F.get(a, d) * F.get(b, d)
    return acc


def _norm(c, dim: int | None = None):
    """sqrt of the left-to-right sum of squares; unrolled iff ``dim``
    is small (same bitwise-parity and JIT-limit contract as ``_dot``)."""
    if dim is None or dim > _UNROLL_MAX:
        return F.sqrt(F.aggregate(F.transform(c, lambda x: x * x),
                                  F.lit(0.0), lambda acc, v: acc + v))
    acc = F.lit(0.0)
    for d in range(dim):
        x = F.get(c, d)
        acc = acc + x * x
    return F.sqrt(acc)


def _np_fold_scores(C, Q):
    """Pairwise dot numerators with the exact engine fold order:
    S[i,j] = ((0.0 + c_i0*q_j0) + c_i1*q_j1) + ... — the d-loop runs
    in ascending order over float64 elementwise numpy ops (one IEEE
    multiply + one IEEE add per term, no FMA, no pairwise-reduction),
    so every entry is bitwise-identical to the JVM/DuckDB
    left-to-right fold over the same doubles."""
    import numpy as np
    S = np.zeros((C.shape[0], Q.shape[0]), dtype=np.float64)
    for d in range(C.shape[1]):
        S += C[:, d:d + 1] * Q[:, d][None, :]
    return S


def _np_fold_norms(M):
    """Row norms with the exact fold order (see _np_fold_scores)."""
    import numpy as np
    n = np.zeros(M.shape[0], dtype=np.float64)
    for d in range(M.shape[1]):
        n += M[:, d] * M[:, d]
    return np.sqrt(n)


def _pair_candidates(corpus, q_rows, k: int | None = None,
                     tau_floor: float | None = None,
                     probe_masks_by_qid: dict | None = None,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     bucket_col: str | None = None,
                     q_id_type: str = "bigint",
                     c_id_type: str = "bigint") -> DataFrame:
    """Shared candidate generator for the pair-heavy ANN operators
    (brute-force top-k, range search, bucketed/multi-probe LSH).

    The query side is COLLECTED (few queries — the same assumption the
    previous broadcast-join formulation made) and shipped inside the
    mapInPandas closure; the corpus streams through Arrow exactly once
    and the per-pair cosine is computed as a batched numpy loop with
    the engine's exact fold order (_np_fold_scores), so every emitted
    cosine is bitwise-identical to the former per-pair JVM fold.  The
    former plan materialized every (query x corpus-row) pair as a JVM
    row carrying BOTH 64-dim vectors through an interpreted
    higher-order-function fold (~16 us/pair); this one moves each
    corpus vector across the Python boundary once and scores pairs at
    memory bandwidth.

    Selection inside a batch is SUPERSET-safe: top-k mode keeps every
    row tied with the k-th best (>= threshold), so the downstream
    window rank sees every possible global top-k member regardless of
    batch boundaries; range mode keeps a conservative tau margin and
    NaNs (Spark treats NaN as greater than any double) and leaves the
    authoritative rounded-threshold filter to the JVM.

    Returns (query_id, neighbor_id, cosine[unrounded])."""
    import numpy as np

    qids = np.array([r[0] for r in q_rows])
    Q = np.array([[float(x) for x in r[1]] for r in q_rows],
                 dtype=np.float64)
    qn = _np_fold_norms(Q) if len(q_rows) else None
    # per-query probed-bucket membership as a boolean lookup table
    # (bucket ids can exceed 63, so no int64 bitmask)
    B = None
    if probe_masks_by_qid is not None:
        nbuckets = 1 + max((b for s in probe_masks_by_qid.values()
                            for b in s), default=0)
        B = np.zeros((len(q_rows), nbuckets), dtype=bool)
        for j, r in enumerate(q_rows):
            for b in probe_masks_by_qid.get(r[0], ()):
                B[j, b] = True

    cols = [id_col, vec_col] + ([bucket_col] if bucket_col else [])
    spark = corpus.sparkSession
    src = corpus.select(*cols).repartition(
        spark.sparkContext.defaultParallelism)
    out_schema = (f"query_id {q_id_type}, neighbor_id {c_id_type}, "
                  "cosine double")

    def gen(batches):
        import numpy as np
        import pandas as pd
        for pdf in batches:
            if len(pdf) == 0 or len(qids) == 0:
                continue
            C = np.array([np.asarray(v, dtype=np.float64)
                          for v in pdf[vec_col]], dtype=np.float64)
            nid = pdf[id_col].to_numpy()
            S = _np_fold_scores(C, Q)
            cn = _np_fold_norms(C)
            cos = S / (qn[None, :] * cn[:, None])
            valid = nid[:, None] != qids[None, :]
            if bucket_col is not None:
                cb = pdf[bucket_col].to_numpy(np.int64)
                in_range = cb < B.shape[1]
                valid &= (B[:, np.minimum(cb, B.shape[1] - 1)].T
                          & in_range[:, None])
            qi, ni, co = [], [], []
            if tau_floor is not None:
                m = valid & ((cos >= tau_floor) | np.isnan(cos))
                ii, jj = np.nonzero(m)
                if len(ii):
                    qi.append(qids[jj])
                    ni.append(nid[ii])
                    co.append(cos[ii, jj])
            else:
                for j in range(len(qids)):
                    colv = cos[:, j]
                    vm = valid[:, j]
                    nv = int(vm.sum())
                    if nv == 0:
                        continue
                    if nv > k:
                        vals = colv[vm]
                        thr = np.partition(vals, nv - k)[nv - k]
                        vm = vm & ((colv >= thr) | np.isnan(colv))
                    ii = np.nonzero(vm)[0]
                    qi.append(np.full(len(ii), qids[j]))
                    ni.append(nid[ii])
                    co.append(colv[ii])
            if qi:
                yield pd.DataFrame({
                    "query_id": np.concatenate(qi),
                    "neighbor_id": np.concatenate(ni),
                    "cosine": np.concatenate(co)})

    return src.mapInPandas(gen, schema=out_schema)


def _id_type(df: DataFrame, col: str) -> str:
    return dict(df.dtypes)[col]


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     dim: int | None = None) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank<=k); excludes self-matches.
    The query side is collected and shipped with the task closure (few
    queries vs big corpus — the same posture the former broadcast join
    assumed); pair scoring is the batched numpy fold of
    _pair_candidates, bitwise-identical to the per-pair JVM fold.
    Only narrow per-batch top-k candidate rows (a superset of the
    global top-k) reach the rank exchange: the vectors never
    shuffle."""
    q_rows = _collect_query_side(queries.select(id_col, vec_col),
                                 "brute_force_topk")
    cand = _pair_candidates(corpus, q_rows, k=k, id_col=id_col,
                            vec_col=vec_col,
                            q_id_type=_id_type(queries, id_col),
                            c_id_type=_id_type(corpus, id_col))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.asc("neighbor_id"))
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))


def hyperplanes(n_bits: int, dim: int) -> List[List[float]]:
    """Driver-side deterministic ±1 hyperplane matrix: component (i, d)
    = +1 iff the first 4 hex digits of md5('i:d') are even. Computed
    ONCE (n_bits × dim floats) and embedded as plan literals — the
    in-plan formulation recomputed these per ROW (10^15 redundant md5s
    at 10^12 rows). Reproducible on any engine, no RNG state."""
    import hashlib
    return [[1.0 if int(hashlib.md5(f"{i}:{d}".encode())
                        .hexdigest()[:4], 16) % 2 == 0 else -1.0
             for d in range(dim)]
            for i in range(n_bits)]


def sign_lsh_bucket(vec_col, planes: List[List[float]]):
    """Sign-LSH bucket id from a precomputed hyperplane matrix: bit i =
    sign of dot(vec, plane_i). The dot is a LEFT-TO-RIGHT multiply-add
    chain (not a matmul) so the float summation order — and therefore
    the sign of near-zero projections — is identical across engines.
    Tiny plane sets unroll into codegen'd arithmetic; anything larger
    keeps the fold — a big unrolled chain trips HotSpot's 8KB JIT
    refusal and runs interpreted (see _dot), on top of the janino
    64 KB GenerateExec limit (_book_scores)."""
    unroll = sum(len(r) for r in planes) <= _UNROLL_MAX
    bucket = F.lit(0)
    for i, row in enumerate(planes):
        if unroll:
            proj = F.lit(0.0)
            for d, p in enumerate(row):
                proj = proj + F.get(vec_col, d) * F.lit(p)
        else:
            plane = F.array(*[F.lit(v) for v in row])
            proj = F.aggregate(F.zip_with(vec_col, plane,
                                          lambda x, p: x * p),
                               F.lit(0.0), lambda acc, v: acc + v)
        bucket = bucket + F.when(proj > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket


# ------------------------------------------------------------------- IVF

def ivf_centroids(n_centroids: int, dim: int,
                  scale: float = 0.15) -> List[List[float]]:
    """Deterministic seed centroids (+-scale components from md5
    parity): a fixed Voronoi partition of the embedding space. A
    production deployment k-means-trains centroids offline (MLlib) and
    broadcasts them the same way; correctness of the cell/probe
    machinery is independent of centroid quality."""
    import hashlib
    return [[scale if int(hashlib.md5(f"ivf:{c}:{d}".encode())
                          .hexdigest()[:4], 16) % 2 == 0 else -scale
             for d in range(dim)]
            for c in range(n_centroids)]


def _cell_scores(vec_col, centroids: List[List[float]]):
    """Per-centroid squared-L2 surrogate ||c||^2 - 2*v.c (the ||v||^2
    term is constant per row): array of (score, idx) structs, ordered
    args — LEFT-TO-RIGHT dot folds for cross-engine float parity."""
    out = []
    unroll = sum(len(c) for c in centroids) <= _UNROLL_MAX
    for i, c in enumerate(centroids):
        c_norm_sq = sum(x * x for x in c)
        if unroll:
            dot = F.lit(0.0)
            for d, y in enumerate(c):
                dot = dot + F.get(vec_col, d) * F.lit(y)
        else:
            plane = F.array(*[F.lit(v) for v in c])
            dot = F.aggregate(F.zip_with(vec_col, plane,
                                         lambda x, y: x * y),
                              F.lit(0.0), lambda acc, v: acc + v)
        out.append(F.struct((F.lit(c_norm_sq) - 2.0 * dot).alias("s"),
                            F.lit(i).alias("i")))
    return F.array(*out)


def ivf_assign(df: DataFrame, centroids: List[List[float]],
               vec_col: str = "embedding") -> DataFrame:
    """Adds ``cell`` = nearest centroid (argmin L2, idx tiebreak)."""
    return df.withColumn(
        "cell", F.array_min(_cell_scores(F.col(vec_col), centroids))["i"])


def kmeans_train(df: DataFrame, k: int, iters: int = 2, dim: int = 64,
                 id_col: str = "vec_id",
                 vec_col: str = "embedding") -> List[List[float]]:
    """Lloyd's k-means over the embedding column, DataFrame-native —
    the trained-centroid upgrade the IVF docstring promises (the
    reference trains its faiss index the same way,
    normalizers/neural_normalizer.py:145-158, nlist=2048).

    Deterministic: init = the k vectors with the smallest ids; each
    iteration assigns via the same broadcast-literal argmin used by
    ``ivf_assign`` (centroid list is a k x dim dimension table — plan
    literals, no shuffle on the corpus beyond the component-mean agg)
    and recomputes centroids as per-cell component means via
    posexplode + groupBy(cell, pos) with map-side combine. Centroids
    round-trip through the driver between iterations exactly like
    MLlib's implementation; the corpus-proportional work per iteration
    is one scan + one (cell, pos)-keyed agg of dim floats per row.
    Empty cells keep their previous centroid."""
    init = (df.orderBy(id_col).limit(k)
            .select(F.col(vec_col).alias("v")).collect())
    cents = [[float(x) for x in r["v"]] for r in init]
    for _ in range(iters):
        a = ivf_assign(df.select(F.col(vec_col).alias("embedding")),
                       cents, "embedding")
        means = (a.select("cell", F.posexplode("embedding")
                          .alias("pos", "x"))
                 .groupBy("cell", "pos").agg(F.avg("x").alias("m"))
                 .collect())
        new = [list(c) for c in cents]
        for r in means:
            new[r["cell"]][r["pos"]] = float(r["m"])
        cents = new
    return cents


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
             n_centroids: int = 8, n_probe: int = 2, dim: int = 64,
             id_col: str = "vec_id",
             vec_col: str = "embedding",
             centroids: List[List[float]] | None = None) -> DataFrame:
    """IVF ANN: corpus rows live in their nearest-centroid cell; each
    query probes its ``n_probe`` nearest cells and exact-cosine re-ranks
    inside them. At scale the corpus shuffles once by cell (or is
    bucketed on it at write time) and each query touches n_probe/n_c of
    the data. Recall < 1 by construction; raise n_probe to trade cost
    for recall. ``centroids`` overrides the deterministic seed cells —
    pass ``kmeans_train(corpus, k=n_centroids)`` for the trained
    variant (balanced cells: better recall at the same n_probe)."""
    if centroids is None:
        centroids = ivf_centroids(n_centroids, dim)
    c = ivf_assign(
        corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("c_vec")),
        centroids, "c_vec")
    return _probe_rerank(c, queries, centroids, k, n_probe,
                         id_col, vec_col)


def ivf_topk_prebuilt(store: DataFrame, queries: DataFrame,
                      centroids: List[List[float]], k: int = 5,
                      n_probe: int = 2, id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """Top-k over an EXISTING cell-partitioned IVF store — the read
    side of streaming index maintenance (streaming/ann.py
    read_ivf_index): ``store`` already carries its ``cell`` assignment
    from write time, so the corpus-proportional assignment scan that
    ``ivf_topk`` pays never happens; only the probed cells' rows join.
    ``centroids`` must be the generation the store was built with
    (frozen between retrains — see streaming/ann.py)."""
    c = store.select(F.col(id_col).alias("neighbor_id"),
                     F.col(vec_col).alias("c_vec"),
                     F.col("cell").cast("int").alias("cell"))
    return _probe_rerank(c, queries, centroids, k, n_probe,
                         id_col, vec_col)


def _probe_rerank(c: DataFrame, queries: DataFrame,
                  centroids: List[List[float]], k: int, n_probe: int,
                  id_col: str, vec_col: str) -> DataFrame:
    """Shared IVF query path: each query probes its n_probe nearest
    cells, joins the celled corpus, exact-cosine re-ranks.  Norms are
    computed once per row before the join and only narrow rows reach
    the rank exchange (same doubles — see _dot/_norm)."""
    dim = len(centroids[0]) if centroids else None
    scores = _cell_scores(F.col("q_vec"), centroids)
    probes = F.slice(F.array_sort(scores), 1, n_probe)
    q = (queries.select(F.col(id_col).alias("query_id"),
                        F.col(vec_col).alias("q_vec"))
         .withColumn("q_norm", _norm(F.col("q_vec"), dim))
         .select("query_id", "q_vec", "q_norm",
                 F.explode(F.transform(probes, lambda p: p["i"]))
                 .alias("cell")))
    cn = c.withColumn("c_norm", _norm(F.col("c_vec"), dim))
    scored = (cn.join(q, "cell")
              .filter(F.col("query_id") != F.col("neighbor_id"))
              .select("query_id", "neighbor_id",
                      (_dot(F.col("q_vec"), F.col("c_vec"), dim)
                       / (F.col("q_norm") * F.col("c_norm")))
                      .alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))


# ------------------------------------------- occupancy / banding math

def bit_agree_prob(cosine: float) -> float:
    """P(one sign-LSH bit agrees) for a pair at the given cosine:
    1 - theta/pi (Goemans-Williamson / Charikar)."""
    import math
    return 1.0 - math.acos(max(-1.0, min(1.0, cosine))) / math.pi


def banded_lsh_recall(p_bit: float, r: int, tables: int) -> float:
    """Candidate-recall of ``tables`` independent r-bit sign-LSH
    tables: 1 - (1 - p^r)^L (the MinHash banding formula applied to
    sign bits)."""
    return 1.0 - (1.0 - p_bit ** r) ** tables


def banded_lsh_plan(n_rows: int, cos_threshold: float,
                    target_occupancy: int = 1024,
                    target_recall: float = 0.9) -> tuple:
    """The production near-dup configuration: choose r so the expected
    bucket occupancy N/2^r stays ~target_occupancy (keeping the
    in-bucket pair join LINEAR in N: sum_b occ_b^2 ~ N * occupancy),
    then choose the table count L for the target candidate recall at
    the cosine threshold. Returns (r, L, expected_occupancy,
    predicted_recall). See PARITY.md 'Sign-LSH occupancy at scale' for
    the worked 10^12-row numbers."""
    import math
    r = max(1, math.ceil(math.log2(max(2.0, n_rows / target_occupancy))))
    p = bit_agree_prob(cos_threshold)
    miss = 1.0 - p ** r
    tables = (1 if miss <= 0.0 else
              max(1, math.ceil(math.log(1.0 - target_recall)
                               / math.log(miss))))
    return r, tables, n_rows / (2 ** r), banded_lsh_recall(p, r, tables)


def hyperplanes_seeded(seed: str, n_bits: int, dim: int) -> List[List[float]]:
    """Like ``hyperplanes`` but namespaced by a seed string — gives
    each banded table its own independent plane set."""
    import hashlib
    return [[1.0 if int(hashlib.md5(f"{seed}:{i}:{d}".encode())
                        .hexdigest()[:4], 16) % 2 == 0 else -1.0
             for d in range(dim)]
            for i in range(n_bits)]


def lsh_banded_pairs(embeddings: DataFrame, threshold: float = 0.95,
                     r: int = 8, tables: int = 4, dim: int = 64,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Banded multi-table sign-LSH near-dup pairs — the 10^12-row
    configuration (single-table recall decays as p^r once r is large
    enough to keep buckets small; L tables recover it as
    1-(1-p^r)^L). Each row computes L bucket ids (one per table's
    plane set), candidates join per (table, bucket), pairs are
    DISTINCT-ed before the exact cosine verify so a pair colliding in
    several tables verifies once. Shuffled artifact: (id, table,
    bucket, vec) rows — L x corpus, never pairs."""
    b = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"),
        F.explode(F.array(*[
            F.struct(F.lit(t).alias("table"),
                     sign_lsh_bucket(F.col(vec_col),
                                     hyperplanes_seeded(f"t{t}", r, dim))
                     .alias("bucket"))
            for t in range(tables)])).alias("tb")
    ).select("id", "vec", "tb.table", "tb.bucket")
    a = b.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a"),
                 "table", "bucket")
    c = b.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b"),
                 "table", "bucket")
    cand = (a.join(c, ["table", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "vec_a", "vec_b")
            .distinct())
    return (cand
            .withColumn("cosine",
                        _dot(F.col("vec_a"), F.col("vec_b"), dim)
                        / (_norm(F.col("vec_a"), dim)
                           * _norm(F.col("vec_b"), dim)))
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine"))


def probe_masks(n_bits: int, max_flip: int = 2) -> List[int]:
    """All bit-flip masks with popcount <= max_flip, the candidate
    probe set for multi-probe LSH. 0 (the home bucket) comes first;
    the per-query ORDER among the rest is decided at query time by
    flip cost (sum of |projection| over flipped bits — flipping a
    near-zero projection is almost free, flipping a confident bit is
    expensive)."""
    return [m for m in range(1 << n_bits)
            if bin(m).count("1") <= max_flip]


def lsh_multiprobe_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                        n_bits: int = 8, dim: int = 64, n_probe: int = 4,
                        max_flip: int = 2,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Multi-probe sign-LSH ANN (Lv et al., VLDB'07 shape): each query
    probes its home bucket plus the buckets reached by the CHEAPEST bit
    flips — cost of flipping bit i = |dot(vec, plane_i)|, so the probe
    order follows the query's own uncertainty. Raises recall without
    touching the corpus-side layout: the corpus is still bucketed once;
    only the (broadcast) query side explodes to n_probe rows.

    Candidate masks are enumerated driver-side with popcount <=
    ``max_flip`` (n_bits + C(n_bits,2) masks at the default 2), then
    ranked per query by flip cost inside the plan — all scalar
    expressions, fully codegen'd. At production n_bits (16+) keep
    max_flip at 2 and let banded multi-table LSH supply the rest of the
    recall (see dedup docs); enumerating 2^n_bits masks is only for
    tiny demo configs."""
    planes = hyperplanes(n_bits, dim)
    masks = probe_masks(n_bits, max_flip)

    def probed_queries():
        vec = F.col("q_vec")
        projs = [
            F.aggregate(F.zip_with(vec, F.array(*[F.lit(v) for v in row]),
                                   lambda x, p: x * p),
                        F.lit(0.0), lambda acc, v: acc + v)
            for row in planes]
        home = sum((F.when(projs[i] > 0, F.lit(1 << i)).otherwise(F.lit(0))
                    for i in range(n_bits)), F.lit(0))
        cands = []
        for m in masks:
            cost = sum((F.abs(projs[i]) for i in range(n_bits)
                        if m & (1 << i)), F.lit(0.0))
            # home XOR m, written per-bit with literal weights so it
            # stays plain arithmetic: bit set in home -> subtract
            flipped = home
            for i in range(n_bits):
                if m & (1 << i):
                    flipped = flipped + F.when(
                        projs[i] > 0, F.lit(-(1 << i))
                    ).otherwise(F.lit(1 << i))
            cands.append(F.struct(cost.alias("cost"),
                                  F.lit(m).alias("mask"),
                                  flipped.alias("bucket")))
        ranked = F.array_sort(F.array(*cands))  # (cost, mask) lexicographic
        probes = F.transform(F.slice(ranked, 1, n_probe),
                             lambda s: s["bucket"])
        return (queries.select(F.col(id_col).alias("query_id"),
                               F.col(vec_col).alias("q_vec"))
                .withColumn("bucket", F.explode(probes)))

    # the probe-selection logic runs UNCHANGED as Spark expressions on
    # the tiny query side (same array_sort (cost, mask) order), then
    # the exploded (query, probed-bucket) rows are collected into
    # per-query bucket bitmasks for the batched numpy scorer — the
    # candidate pair set is exactly the former bucket-join's.
    pq_rows = _collect_query_side(
        probed_queries().select("query_id", "q_vec", "bucket"),
        "lsh_multiprobe_topk")
    probe_bits: dict = {}
    q_vecs: dict = {}
    for r in pq_rows:
        probe_bits.setdefault(r[0], set()).add(int(r[2]))
        q_vecs.setdefault(r[0], r[1])
    q_rows = sorted(q_vecs.items())
    c = corpus.withColumn("_lsh_bucket",
                          sign_lsh_bucket(F.col(vec_col), planes))
    cand = _pair_candidates(c, q_rows, k=k,
                            probe_masks_by_qid=probe_bits,
                            id_col=id_col, vec_col=vec_col,
                            bucket_col="_lsh_bucket",
                            q_id_type=_id_type(queries, id_col),
                            c_id_type=_id_type(corpus, id_col))
    # a (query, neighbor) pair can surface from several probed buckets
    # only if bucketing were ambiguous — it is not (one bucket per
    # corpus row), so no distinct is needed before ranking
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.asc("neighbor_id"))
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))


def lsh_bucket_pairs(embeddings: DataFrame, threshold: float = 0.95,
                     n_bits: int = 8, dim: int = 64,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Near-dup pairs at scale: candidates = same sign-LSH bucket
    (self-join on the bucket id — shuffles (id, bucket, vec), never
    all pairs), then exact cosine verify inside buckets. The bucketed
    complement of dedup.embedding_cosine_pairs' exact all-pairs."""
    planes = hyperplanes(n_bits, dim)
    b = (embeddings.select(F.col(id_col).alias("id"),
                           F.col(vec_col).alias("vec"),
                           sign_lsh_bucket(F.col(vec_col), planes)
                           .alias("bucket"))
         .withColumn("nrm", _norm(F.col("vec"), dim)))
    a = b.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a"),
                 F.col("nrm").alias("nrm_a"), "bucket")
    c = b.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b"),
                 F.col("nrm").alias("nrm_b"), "bucket")
    return (a.join(c, "bucket")
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("cosine",
                        _dot(F.col("vec_a"), F.col("vec_b"), dim)
                        / (F.col("nrm_a") * F.col("nrm_b")))
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine"))


def lsh_bucketed_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                      n_bits: int = 8, dim: int = 64,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """ANN: bucket both sides on sign-LSH, join on bucket, exact cosine
    re-rank inside buckets. Recall < 1.0 by construction; raise via
    multi-probe (duplicate queries with single-bit flips). At 10^12
    rows the bucket join shuffles only (id, bucket, vec) pairs and the
    per-bucket re-rank is embarrassingly parallel."""
    planes = hyperplanes(n_bits, dim)
    # query-side bucket assignment runs as the SAME Spark expression
    # (bit-identical fold/sign) on the tiny query side, then collects
    # into the batched numpy scorer; candidate pairs = same-bucket
    # co-residents, exactly the former broadcast bucket-join's set
    q_rows3 = _collect_query_side(
        queries.select(id_col, vec_col,
                       sign_lsh_bucket(F.col(vec_col), planes)
                       .alias("bucket")),
        "lsh_bucketed_topk")
    probe = {r[0]: {int(r[2])} for r in q_rows3}
    c = corpus.withColumn("_lsh_bucket",
                          sign_lsh_bucket(F.col(vec_col), planes))
    cand = _pair_candidates(c, [(r[0], r[1]) for r in q_rows3], k=k,
                            probe_masks_by_qid=probe,
                            id_col=id_col, vec_col=vec_col,
                            bucket_col="_lsh_bucket",
                            q_id_type=_id_type(queries, id_col),
                            c_id_type=_id_type(corpus, id_col))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.asc("neighbor_id"))
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))


def semantic_dedup(embeddings: DataFrame, threshold: float = 0.95,
                   n_centroids: int = 8, dim: int = 64,
                   centroids: List[List[float]] | None = None,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster embeddings
    into IVF cells, compute pairwise cosines WITHIN each cell only, and
    drop every row that has a lower-id row in its cell with cosine >=
    threshold (deterministic keep-lowest-id, no iteration). Returns
    (id, cell, keep).

    Scale shape: the clustering bounds the quadratic — the self-join is
    equi on ``cell``, so each cell's pairs stay inside one shuffle
    partition family and total work is sum over cells of n_c^2, the
    exact knob SemDeDup turns (more centroids => smaller n_c). Cells
    with heavy skew get more centroids or a per-cell LSH pre-filter
    (``lsh_bucket_pairs``); centroids are plan literals exactly like
    ``ivf_topk``'s."""
    if centroids is None:
        centroids = ivf_centroids(n_centroids, dim)
    _d = len(centroids[0]) if centroids else None
    assigned = ivf_assign(
        embeddings.select(id_col, vec_col), centroids, vec_col)
    withn = assigned.withColumn("_nrm", _norm(F.col(vec_col), _d))
    a = withn.select(F.col(id_col).alias("_ida"), "cell",
                     F.col(vec_col).alias("_va"),
                     F.col("_nrm").alias("_na"))
    b = withn.select(F.col(id_col).alias("_idb"), "cell",
                     F.col(vec_col).alias("_vb"),
                     F.col("_nrm").alias("_nb"))
    cos = _dot(F.col("_va"), F.col("_vb"), _d) / \
        (F.col("_na") * F.col("_nb"))
    dropped = (a.join(b, "cell")
               .filter(F.col("_ida") > F.col("_idb"))
               .withColumn("_cos", cos)
               .filter(F.col("_cos") >= threshold)
               .select(F.col("_ida").alias(id_col))
               .distinct())
    return (assigned.select(id_col, "cell")
            .join(dropped.withColumn("_dup", F.lit(True)), id_col, "left")
            .select(id_col, "cell",
                    F.coalesce(~F.col("_dup"), F.lit(True)).alias("keep")))


# -------------------------------------------------- product quantization

def training_sample(df: DataFrame, n_train: int = 65536,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding"):
    """Deterministic bounded training sample: the ``n_train``
    smallest-id vectors, as a float64 numpy array in id order. This is
    the faiss/ScaNN production posture — quantizer codebooks train on
    a driver-sized sample (faiss defaults to ~max(256*k, 65536)
    points), NEVER the full corpus, so the collect is bounded by
    n_train*dim floats regardless of corpus size (10^12 vectors train
    from the same 65k sample). TakeOrderedAndProject keeps the
    smallest-id selection a single bounded-heap pass, no global
    sort."""
    import numpy as np

    rows = (df.orderBy(id_col).limit(n_train)
            .select(F.col(vec_col).alias("v")).collect())
    return np.array([list(r["v"]) for r in rows], dtype=np.float64)


def _lloyd(data, k: int, iters: int):
    """Driver-side Lloyd's on a training sample, float64 end-to-end:
    smallest-id init, argmin with lowest-index tiebreak, per-cell
    means; empty cells keep their centroid. Numerically IDENTICAL to
    the independent numpy twins the DuckDB oracles train (queries.py
    _trained_ivf_oracle/_ivf_pq_oracle) — same code shape, same
    summation order — so training can never drift from the oracle by
    float reorder across environments (the round-5 checkpoint/kNN
    lesson: distributed avg sums in partition order, which is not an
    environment-stable contract; a sample-trained codebook is)."""
    cents = data[:k].copy()
    for _ in range(iters):
        s = (cents * cents).sum(axis=1)[None, :] - 2.0 * (data @ cents.T)
        cell = s.argmin(axis=1)
        for i in range(k):
            members = data[cell == i]
            if len(members):
                cents[i] = members.mean(axis=0)
    return cents


def kmeans_train_local(df: DataFrame, k: int = 8, iters: int = 2,
                       dim: int = 64, id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       n_train: int = 65536,
                       sample=None) -> List[List[float]]:
    """Coarse-quantizer training on a bounded sample (see
    ``training_sample``): one Spark job total instead of one scan per
    Lloyd's iteration. Same argmin/mean math as the distributed
    ``kmeans_train`` — use that when training must see every row; use
    this for the production IVF-PQ path where sample-training is the
    standard (and the assignment of the FULL corpus still happens
    distributed, in ``ivf_assign``). Pass ``sample`` (a
    ``training_sample`` result) to reuse one collect across the coarse
    and PQ trainers."""
    if sample is None:
        sample = training_sample(df, n_train, id_col, vec_col)
    return [[float(x) for x in c] for c in _lloyd(sample, k, iters)]


def pq_train(df: DataFrame, m: int = 4, k_codes: int = 8,
             iters: int = 2, dim: int = 64,
             id_col: str = "vec_id",
             vec_col: str = "embedding",
             n_train: int = 65536,
             sample=None) -> List[List[List[float]]]:
    """Train product-quantization codebooks: the vector is split into
    ``m`` contiguous subspaces of dim/m and each subspace gets its own
    ``k_codes``-centroid Lloyd's k-means (Jegou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011 — the
    compression layer faiss stacks on the IVF the reference trains in
    normalizers/neural_normalizer.py:145-158). Trains on the bounded
    ``training_sample`` driver-side (the faiss posture — one Spark job,
    float64-deterministic, oracle-identical math; see ``_lloyd``).
    Returns ``m`` codebooks, each ``k_codes x (dim/m)``."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    if sample is None:
        sample = training_sample(df, n_train, id_col, vec_col)
    return [[[float(x) for x in c]
             for c in _lloyd(sample[:, s * dsub:(s + 1) * dsub].copy(),
                             k_codes, iters)]
            for s in range(m)]


def _book_lit(book: List[List[float]]):
    """One subspace codebook as a nested array literal (k_codes x dsub).
    Built as ONE parsed SQL expression, not k*dsub ``F.lit`` calls —
    the py4j round trips of per-element Column construction dominated
    plan-build time (~4 s for m=8/k=16/dsub=8 across encode+LUT,
    measured). ``repr`` of a Python float round-trips exactly through
    Java's string→double cast, every child is foldable, and Catalyst's
    ConstantFolding collapses the tree into ONE Literal node before
    codegen."""
    return F.expr("array(" + ",".join(
        "array(" + ",".join(f"CAST('{x!r}' AS DOUBLE)" for x in c) + ")"
        for c in book) + ")")


def _sub_dot(vec_col, c, base: int, dsub: int):
    """Left-to-right fold ``sum_d v[base+d] * c[d]`` over one subspace
    (0-based ``F.get`` indexing; ``c`` is an array column from a
    codebook literal). Starts at 0.0 — IEEE ``0.0 + t == t`` — so the
    sum is bitwise-identical to an unrolled multiply-add chain and to
    DuckDB's sequential list_dot_product over the same doubles."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(dsub - 1)), F.lit(0.0),
        lambda acc, d: acc + F.get(vec_col, d + base) * F.get(c, d))


def _book_scores(vec_col, book: List[List[float]], base: int = 0):
    """``_cell_scores`` over one PQ subspace: array of (score, idx)
    structs where score = ||c||^2 - 2 v_s.c, computed with
    higher-order functions over a constant-folded codebook literal
    instead of unrolled arithmetic. The unrolled form (m*k_codes*dsub
    ~ 1000+ flat terms) overflowed janino's 64 KB method limit inside
    GenerateExec's consume path — where Spark cannot split the
    generated method — and silently dropped the whole stage to
    interpreted mode (~2x slower end-to-end). This form is a handful
    of expression nodes regardless of codebook size; the lambda bodies
    evaluate per element with identical double arithmetic. ``base``
    addresses the subspace inside the full vector, no slice
    allocation."""
    c2 = F.expr("array(" + ",".join(
        f"CAST('{sum(x * x for x in c)!r}' AS DOUBLE)"
        for c in book) + ")")
    dsub = len(book[0])
    return F.transform(
        _book_lit(book),
        lambda c, j: F.struct(
            (F.get(c2, j) - 2.0 * _sub_dot(vec_col, c, base, dsub))
            .alias("s"),
            j.alias("i")))


def pq_encode_col(vec_col, codebooks: List[List[List[float]]],
                  dim: int):
    """Column expr: vector -> array of ``m`` code ids (argmin-L2 per
    subspace, smallest-index tiebreak — same ``_cell_scores`` argmin
    the coarse quantizer uses). Pure plan-side expression, no UDF.
    At m=8/k=256 the codes are 8 bytes where the raw float32[768]
    vector is 3 KB — the reason PQ exists at 10^12 vectors."""
    m = len(codebooks)
    dsub = dim // m
    return F.array(*[
        F.array_min(_book_scores(vec_col, codebooks[s], s * dsub))["i"]
        for s in range(m)])


def ivf_pq_topk(corpus: DataFrame, queries: DataFrame,
                coarse_centroids: List[List[float]],
                codebooks: List[List[List[float]]],
                k: int = 5, n_probe: int = 2, dim: int = 64,
                id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """IVF-ADC: asymmetric-distance top-k over the PQ-compressed store
    (faiss IndexIVFPQ's query path). Returns (query_id, neighbor_id,
    adc_dist, rank<=k), ranked by approximate L2 ascending with
    neighbor-id tiebreak; self-matches excluded.

    Scale shape — why this is THE 10^12-vector layout:

    * the corpus is scanned once to build the store (cell + m codes,
      ~id+16 bytes/row); raw vectors never shuffle and never appear in
      the query plan after the encode scan;
    * each query ships a lookup table of m*k_codes precomputed
      subspace distances (plan-side column, broadcast with the query
      row), so scoring a candidate is m integer-indexed adds — no
      per-candidate dot products, the ADC trick;
    * the join is broadcast (few queries) against only the probed
      cells' rows; the only shuffle is the per-query top-k window over
      ~24-byte scored rows.

    Exactness caveat (inherent to PQ, documented not hidden): adc_dist
    approximates ||q - v||^2 by quantizing v to its codebook cell, so
    recall trades against m/k_codes; the exact-re-rank refinement
    (fetch raw vectors for the top-k' « corpus candidates) is the
    standard production chaser and composes as brute_force_topk over
    the id-filtered corpus."""
    m = len(codebooks)
    k_codes = len(codebooks[0])
    dsub = dim // m

    store = (ivf_assign(
        corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("c_vec")),
        coarse_centroids, "c_vec")
        .select("neighbor_id", "cell",
                pq_encode_col(F.col("c_vec"), codebooks, dim)
                .alias("codes")))

    # per-query LUT: entry s*k_codes+j = ||q_s - codebook[s][j]||^2 =
    # ||q_s||^2 + (c2_j - 2 q_s.c_j), the parenthesized part being the
    # _book_scores "s" field. HOFs over constant-folded codebook
    # literals, NOT unrolled arithmetic — this projection sits under
    # the probe explode (GenerateExec), where an unrolled m*k_codes*
    # dsub term tree overflows janino's 64 KB method limit and drops
    # the stage to interpreted mode (see _book_scores). The python
    # loop over s keeps the flat entry order s-major / j-minor, which
    # the ADC indexing below and the DuckDB oracle both assume.
    qv = F.col("q_vec")

    def _qs2(s):
        return F.aggregate(
            F.sequence(F.lit(0), F.lit(dsub - 1)), F.lit(0.0),
            lambda acc, d: acc + F.get(qv, d + s * dsub)
            * F.get(qv, d + s * dsub))

    lut = F.flatten(F.array(*[
        F.transform(_book_scores(qv, codebooks[s], s * dsub),
                    lambda e: _qs2(s) + e["s"])
        for s in range(m)]))

    scores = _cell_scores(F.col("q_vec"), coarse_centroids)
    probes = F.slice(F.array_sort(scores), 1, n_probe)
    q = (queries.select(F.col(id_col).alias("query_id"),
                        F.col(vec_col).alias("q_vec"))
         .select("query_id", lut.alias("lut"),
                 F.explode(F.transform(probes, lambda p: p["i"]))
                 .alias("cell")))

    # ADC: m ordered lookup-adds per candidate (fixed subspace order on
    # both engines so equal code tuples sum bitwise-identically and the
    # neighbor-id tiebreak is deterministic)
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)), F.lit(0.0),
        lambda acc, s: acc + F.element_at(
            F.col("lut"),
            (s * k_codes + F.element_at(F.col("codes"), s + 1) + 1)
            .cast("int")))
    scored = (store.join(F.broadcast(q), "cell")
              .filter(F.col("query_id") != F.col("neighbor_id"))
              .withColumn("adc_dist", adc))
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"),
                                               F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "adc_dist", "rank"))


def ivf_pq_rerank(corpus: DataFrame, queries: DataFrame,
                  coarse_centroids: List[List[float]],
                  codebooks: List[List[List[float]]],
                  k: int = 5, k_cand: int = 20, n_probe: int = 2,
                  dim: int = 64, id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Exact-cosine re-rank of IVF-PQ/ADC candidates — the standard
    production chaser on a compressed store (faiss's refine/
    IndexRefineFlat stage): ADC recall is bounded by quantization, so
    the query takes ``k_cand`` > k approximate candidates from
    ``ivf_pq_topk`` and re-scores ONLY those against their raw
    vectors, returning exact-cosine top-k.

    Scale shape: the candidate set is |Q| x k_cand id pairs —
    broadcast — so the raw-vector fetch is a broadcast hash join the
    corpus scan can prune on (runtime filter / DPP on the id column at
    scale); the full corpus is never re-scored and raw vectors for
    non-candidates never leave the scan. Output (query_id,
    neighbor_id, cosine, rank<=k) with brute_force_topk's exact
    ordering semantics (cosine DESC, neighbor_id ASC)."""
    cand = (ivf_pq_topk(corpus, queries, coarse_centroids, codebooks,
                        k=k_cand, n_probe=n_probe, dim=dim,
                        id_col=id_col, vec_col=vec_col)
            .select("query_id", "neighbor_id"))
    c = (corpus.select(F.col(id_col).alias("neighbor_id"),
                       F.col(vec_col).alias("c_vec"))
         .withColumn("c_norm", _norm(F.col("c_vec"), dim)))
    q = (queries.select(F.col(id_col).alias("query_id"),
                        F.col(vec_col).alias("q_vec"))
         .withColumn("q_norm", _norm(F.col("q_vec"), dim)))
    scored = (c.join(F.broadcast(cand), "neighbor_id")
              .join(F.broadcast(q), "query_id")
              .select("query_id", "neighbor_id",
                      (_dot(F.col("q_vec"), F.col("c_vec"), dim)
                       / (F.col("q_norm") * F.col("c_norm")))
                      .alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))


def range_search(corpus: DataFrame, queries: DataFrame, tau: float,
                 id_col: str = "vec_id",
                 vec_col: str = "embedding",
                 dim: int | None = None) -> DataFrame:
    """Radius (range) search: ALL corpus vectors within cosine >= tau
    of each query — the fixed-threshold companion to
    ``brute_force_topk`` for recall-bounded retrieval (faiss
    ``range_search``); the right primitive when the consumer needs
    "everything at least this similar", not a fixed k.

    Scale shape: identical to the brute-force top-k — the query side
    is broadcast, the corpus scans once, the cosine is the same
    left-to-right fold — but with NO window at all: the threshold
    filter replaces the per-query rank, so the operator is one
    codegen'd map+filter over the scan.  The threshold compares the
    ROUNDED cosine (6 dp) so the boundary set is stable across
    engines' float summation order.

    Output: (query_id, neighbor_id, cosine) with cosine rounded."""
    q_rows = _collect_query_side(queries.select(id_col, vec_col),
                                 "range_search")
    # conservative floor: anything that could round (HALF_UP, 6 dp) to
    # >= tau survives the batch stage; the authoritative rounded
    # comparison below is the same JVM round/filter as before
    cand = _pair_candidates(corpus, q_rows, tau_floor=tau - 1e-6,
                            id_col=id_col, vec_col=vec_col,
                            q_id_type=_id_type(queries, id_col),
                            c_id_type=_id_type(corpus, id_col))
    return (cand
            .withColumn("cosine", F.round(F.col("cosine"), 6))
            .filter(F.col("cosine") >= tau)
            .select("query_id", "neighbor_id", "cosine"))


def pq_distortion(df: DataFrame, codebooks: List[List[List[float]]],
                  dim: int = 64, id_col: str = "vec_id",
                  vec_col: str = "embedding",
                  round_to: int = 6) -> DataFrame:
    """PQ quantization-error audit: per stored vector, the L2
    reconstruction error of its product-quantized code and the error
    relative to the vector's own norm — the calibration artifact that
    justifies (or indicts) a chosen (m, k_codes) operating point
    before a 10^12-vector store commits to it, the PQ twin of the
    MinHash calibration report (faiss's quantizer.compute_residual
    diagnostics).

    Per subspace, the squared residual is exactly the argmin score
    the encoder already computes plus the subvector's own energy:
    min_j ||x_s - b_j||² = min_j(||b_j||² - 2 x_s·b_j) + ||x_s||² —
    min-then-add equals add-then-min because + is IEEE-monotone, so
    the audit reuses ``_book_scores`` verbatim and costs one
    codegen'd map over the scan: no shuffle, no join, raw vectors
    never leave their rows.  Subspace terms sum in fixed order so the
    double result is engine-identical.

    Output: (id, recon_err, rel_err), both rounded."""
    m = len(codebooks)
    dsub = dim // m
    v = F.col(vec_col)
    err2 = F.lit(0.0)
    for s in range(m):
        # sum_d v[s*dsub+d]^2, unrolled directly over v (identical
        # element order/values as the former slice+fold)
        sub2 = F.lit(0.0)
        for d in range(dsub):
            x = F.get(v, s * dsub + d)
            sub2 = sub2 + x * x
        term = (F.array_min(_book_scores(v, codebooks[s],
                                         s * dsub))["s"]
                + sub2)
        err2 = err2 + term
    err2 = F.greatest(err2, F.lit(0.0))
    return df.select(
        F.col(id_col),
        F.round(F.sqrt(err2), round_to).alias("recon_err"),
        F.round(F.sqrt(err2) / F.sqrt(_dot(v, v, dim)), round_to)
        .alias("rel_err"))


def ivf_cell_balance(corpus: DataFrame, centroids: List[List[float]],
                     dim: int = 64, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     round_to: int = 6) -> DataFrame:
    """IVF operational-health audit: per-cell vector counts plus the
    imbalance factor (max cell / mean cell) replicated onto every
    row — the metric that decides whether a centroid retrain is due
    (faiss's imbalance_factor): a skewed inverted file makes probe
    cost unpredictable and hot cells dominate query latency at
    10^12-vector scale.

    One assignment scan (the same argmin expression the index build
    uses), one map-side-combined groupBy on the cell id, one 1-row
    broadcast of the aggregate stats.  Exact integer counts; only the
    two ratios round.

    Output: (cell, n_vecs, frac, imbalance)."""
    assigned = ivf_assign(corpus, centroids, vec_col=vec_col)
    per = assigned.groupBy("cell").agg(
        F.count("*").cast("long").alias("n_vecs"))
    tot = per.agg(F.sum("n_vecs").cast("double").alias("_total"),
                  F.max("n_vecs").cast("double").alias("_max"),
                  F.count("*").cast("double").alias("_cells"))
    return (per.crossJoin(F.broadcast(tot))
            .select("cell", "n_vecs",
                    F.round(F.col("n_vecs") / F.col("_total"), round_to)
                    .alias("frac"),
                    F.round(F.col("_max")
                            / (F.col("_total") / F.col("_cells")),
                            round_to).alias("imbalance")))
