"""Similarity search and embedding near-dup over the ``embeddings``
table (64-dim float vectors).

All three operators share one execution scheme — **quantize once, exact
integer kernels, IEEE finish**:

1. every element is rounded once to an int64 (``round(x * 1e6)``,
   identical half-away-from-zero rounding in Spark and DuckDB);
2. dot products and norms are exact int64 arithmetic inside
   Arrow-batched pandas kernels (one numpy matmul per batch — the
   100 TB hot path), emitted as integer triples;
3. the final cosine + ranking/threshold runs in Spark expressions with
   the exact same IEEE double formula the oracle uses — division and
   sqrt are correctly rounded, so results are bit-stable at any
   parallelism and across engines.

Tiers:

- **brute-force top-k** — O(Q·N) baseline; the query matrix (Q rows) is
  shipped to every partition as a closure (the broadcast-variable
  shape), so the corpus is scanned exactly once, map-side.
- **IVF top-k** — a genuinely FITTED coarse quantizer (deterministic
  integer Lloyd k-means, oracle-replicated bit-for-bit) restricts
  candidates to the query's cell; the multi-probe variant widens each
  query to its n nearest cells (recall/cost dial).
- **sign-LSH top-k** — random-hyperplane buckets, as a closure kernel
  and as the broadcast-bucket-join tier for unbounded query sets.
- **PQ/ADC top-k** — product quantization: per-sub-space integer Lloyd
  codebooks (fitted in one lock-step corpus pass per round), candidates
  encoded map-side to code ids, ranked by summed per-query asymmetric
  distance tables; the compressed-storage tier, with its recall vs
  brute-force measured in-engine (``similarity_pq_recall_report``).
- **near-dup pairs** — within-bucket blocked Gram matrix, threshold on
  quantized cosine, blocked by ``label`` or by the fitted cell (see
  ``dedup_embedding_cosine`` / ``dedup_embedding_cosine_ivf``).
- **cluster census** — the fitted assignment surfaced directly
  (``embedding_kmeans_clusters``) for stratified curation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..queries.registry import register_query, register_stage
from ..sources import load_table

TOP_K = 5
N_QUERIES = 10  # vec_id < 10 form the query set

# The query matrix ships to every task as a closure, which is the right
# call only while Q x DIM stays trivially small (driver memory + per-task
# deserialization both scale with it). Above this bound use
# ``similarity_query_join_topk`` — the query set stays a DataFrame and
# reaches the corpus via a bucket-keyed broadcast hash join, so Q scales
# with executor (not closure) memory.
MAX_CLOSURE_QUERIES = 1024


def _check_query_closure_size(n_queries: int) -> None:
    if n_queries > MAX_CLOSURE_QUERIES:
        raise ValueError(
            f"query set of {n_queries} exceeds the closure-shipping bound "
            f"({MAX_CLOSURE_QUERIES}); use similarity_query_join_topk, "
            "which broadcast-joins the query table keyed by LSH bucket"
        )
QUANT_SCALE = 1_000_000
NEAR_DUP_COSINE = 0.30

# Guard for dedup_embedding_cosine: within-bucket pair generation is
# quadratic, so one skewed blocking key would OOM an executor at scale.
# Buckets beyond this raise with a remedy (finer LSH band / IVF cell);
# below it, the Gram product runs in row blocks so peak memory is
# COSINE_GRAM_BLOCK*n int64s (~1.6 GB at the cap), never n*n.
MAX_COSINE_BUCKET = int(os.environ.get("SPARK_GRAFT_MAX_COSINE_BUCKET", "100000"))
COSINE_GRAM_BLOCK = 2048

# oracle-side quantized elements, shared by all three operators
_QUANT_SQL = f"""
    SELECT vec_id, label,
           CAST(ROUND(CAST(embedding[pos] AS DOUBLE) * {QUANT_SCALE}, 0) AS BIGINT) AS x,
           pos
    FROM embeddings, LATERAL UNNEST(GENERATE_SERIES(1, LEN(embedding))) AS g(pos)
"""

_NORMS_SQL = f"SELECT vec_id, SUM(x * x) AS d FROM ({_QUANT_SQL}) q GROUP BY vec_id"

# identical IEEE finish on both sides: int dot and int norms converted
# exactly to double (all < 2^53), one multiply, one sqrt, one divide
_COSINE_SQL = "ROUND(CAST(dotq AS DOUBLE) / SQRT(CAST(d1 AS DOUBLE) * CAST(d2 AS DOUBLE)), 6)"


# ------------------------------------------- IVF coarse quantizer
# A real fitted quantizer: Lloyd's k-means with deterministic seeding
# (the IVF_K smallest vec_ids), exact int64 squared-L2 distances, a
# fixed iteration count, and integer-floored centroid means — every
# step replicable bit-for-bit by the DuckDB oracle, which unrolls the
# same two assignment rounds in SQL below. Ties in the argmin break to
# the smallest cell id on both engines.
IVF_K = 8
# assignment rounds (centroids updated between them). The oracle CTE
# chain below is unrolled for exactly 2; changing this constant
# requires re-unrolling c0→a1→c1→cells there as well.
IVF_ITERS = 2

_IVF_CELLS_CTES = f"""
    seeds AS (
      SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell
      FROM (SELECT DISTINCT vec_id FROM q ORDER BY vec_id LIMIT {IVF_K}) ids
    ),
    c0 AS (SELECT s.cell, q.pos, q.x AS c FROM q JOIN seeds s ON q.vec_id = s.vec_id),
    d1 AS (
      SELECT q.vec_id, c.cell, SUM((q.x - c.c) * (q.x - c.c)) AS dist
      FROM q JOIN c0 c ON q.pos = c.pos GROUP BY 1, 2
    ),
    a1 AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        FROM d1
      ) r WHERE rn = 1
    ),
    c1 AS (
      SELECT a.cell, q.pos,
             CAST(FLOOR(CAST(SUM(q.x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
      FROM q JOIN a1 a ON q.vec_id = a.vec_id GROUP BY 1, 2
    ),
    d2 AS (
      SELECT q.vec_id, c.cell, SUM((q.x - c.c) * (q.x - c.c)) AS dist
      FROM q JOIN c1 c ON q.pos = c.pos GROUP BY 1, 2
    ),
    cells AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        FROM d2
      ) r WHERE rn = 1
    )
"""


def _topk_oracle(same_cell_only: bool, n_probe: int = 1) -> str:
    cells_cte = f", {_IVF_CELLS_CTES}" if same_cell_only else ""
    if same_cell_only and n_probe > 1:
        # multi-probe: a candidate matches if its cell is among the
        # query's n_probe nearest centroids (same dist,cell tie-break)
        cells_cte += f""",
    probes AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        FROM d2 WHERE vec_id < {N_QUERIES}
      ) r WHERE rn <= {n_probe}
    )"""
        cell_join = (
            "JOIN cells cb ON cb.vec_id = b.vec_id "
            "JOIN probes pa ON pa.vec_id = a.vec_id AND pa.cell = cb.cell"
        )
    elif same_cell_only:
        cell_join = (
            "JOIN cells ca ON ca.vec_id = a.vec_id "
            "JOIN cells cb ON cb.vec_id = b.vec_id AND cb.cell = ca.cell"
        )
    else:
        cell_join = ""
    return f"""
    WITH q AS ({_QUANT_SQL}){cells_cte},
    dots AS (
      SELECT a.vec_id AS q_id, b.vec_id AS c_id, SUM(a.x * b.x) AS dotq
      FROM q a JOIN q b ON a.pos = b.pos AND a.vec_id <> b.vec_id {cell_join}
      WHERE a.vec_id < {N_QUERIES}
      GROUP BY 1, 2
    ),
    norms AS ({_NORMS_SQL}),
    scored AS (
      SELECT d.q_id, d.c_id,
             ROUND(CAST(d.dotq AS DOUBLE)
                   / SQRT(CAST(n1.d AS DOUBLE) * CAST(n2.d AS DOUBLE)), 6) AS cosine
      FROM dots d
      JOIN norms n1 ON n1.vec_id = d.q_id
      JOIN norms n2 ON n2.vec_id = d.c_id
    )
    SELECT q_id, c_id, cosine, rk FROM (
      SELECT q_id, c_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rk
      FROM scored
    ) ranked
    WHERE rk <= {TOP_K}
    """


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, q: array<long>) — the one rounding step."""
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.round(x * QUANT_SCALE, 0).cast("long"),
        ).alias("q"),
    )


def _finish_cosine(triples: DataFrame, out_pair: tuple[str, str]) -> DataFrame:
    a, b = out_pair
    return triples.select(
        a,
        b,
        F.round(
            F.col("dotq") / F.sqrt(F.col("d1").cast("double") * F.col("d2").cast("double")), 6
        ).alias("cosine"),
    )


def _lloyd_fit(spark: SparkSession, sf_dir: str, k: int, iters: int, m: int) -> list:
    """Fit ``m`` quantizers in lock-step, one per equal slice of the
    quantized embeddings, distributedly; return the trained models as
    ``[(cell_ids, centroids)]`` — per slice an int64 vector of cell ids
    (ascending) and the matching (K, D/m) int64 centroid matrix.

    Seeding is deterministic (the ``k`` smallest vec_ids define cells
    0..k-1). Each Lloyd round is the canonical distributed shape: ONE
    Arrow-batched corpus pass computes exact-int64 nearest-centroid
    assignments AND per-cell partial sums map-side for every slice
    (numpy, the models ride in the closure), then a (slice, cell,
    pos)-keyed aggregation over K*D-sized partials — never corpus rows —
    reaches the driver; m fits never cost m scans. The centroid update
    divides the exact int64 sum by the count in one IEEE double op and
    floors, the same two-operand computation the DuckDB oracle runs, so
    cells match bit-for-bit. At extreme corpus sizes the int64 partial
    sums bound overflow per PARTITION (|x| <= 1e7, rows/partition <<
    2^40), which is why partials — not a global SUM — are the
    aggregation unit.
    """
    import numpy as np
    import pandas as pd

    emb = _quantized(spark, sf_dir)
    seed_rows = emb.orderBy("vec_id").limit(k).collect()
    if not seed_rows:
        raise ValueError("cannot fit a quantizer: embeddings table is empty")
    full = np.array([r.q for r in seed_rows], dtype=np.int64)
    dim = full.shape[1]
    if dim % m:
        raise ValueError(f"embedding dim {dim} not divisible into {m} sub-spaces")
    dim_per = dim // m
    models = [
        (np.arange(len(seed_rows), dtype=np.int64), full[:, s * dim_per : (s + 1) * dim_per].copy())
        for s in range(m)
    ]
    for _ in range(iters - 1):
        models_now = list(models)  # closure snapshot for this round

        def partials(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                X = np.array(pdf["q"].tolist(), dtype=np.int64)
                frames = []
                for s, (ids_now, cmat_now) in enumerate(models_now):
                    Xs = X[:, s * dim_per : (s + 1) * dim_per]
                    rows = np.searchsorted(
                        ids_now, _assign_cells(Xs, ids_now, cmat_now)
                    )
                    psum = np.zeros((len(ids_now), dim_per), dtype=np.int64)
                    np.add.at(psum, rows, Xs)
                    pcnt = np.bincount(rows, minlength=len(ids_now)).astype(np.int64)
                    k_idx, p_idx = np.nonzero(
                        (pcnt > 0)[:, None] & np.ones(dim_per, dtype=bool)
                    )
                    frames.append(
                        pd.DataFrame(
                            {
                                "sub": np.full(len(k_idx), s, dtype=np.int32),
                                "cell": ids_now[k_idx],
                                "pos": p_idx.astype(np.int32),
                                "psum": psum[k_idx, p_idx],
                                "pcnt": pcnt[k_idx],
                            }
                        )
                    )
                yield pd.concat(frames, ignore_index=True)

        agg = (
            emb.mapInPandas(
                partials, "sub int, cell long, pos int, psum long, pcnt long"
            )
            .groupBy("sub", "cell", "pos")
            .agg(F.sum("psum").alias("s"), F.sum("pcnt").alias("n"))
            .collect()
        )
        by_sub: dict[int, dict[int, dict[int, int]]] = {}
        for r in agg:
            # same IEEE double divide + floor as the oracle's
            # FLOOR(CAST(SUM(x) AS DOUBLE) / COUNT(*)): identical
            # operand bits -> identical quotient -> identical floor
            by_sub.setdefault(r.sub, {}).setdefault(r.cell, {})[r.pos] = int(
                np.floor(np.float64(r.s) / r.n)
            )
        models = []
        for s in range(m):
            by_cell = by_sub[s]
            cell_ids = np.array(sorted(by_cell), dtype=np.int64)
            cmat = np.array(
                [[by_cell[c][p] for p in range(dim_per)] for c in cell_ids],
                dtype=np.int64,
            )
            models.append((cell_ids, cmat))
    return models


# a registered stage: the K*D centroid matrix is a model artifact a
# real pipeline trains once and reuses
@register_stage("ivf_model")
def _ivf_fit(spark: SparkSession, sf_dir: str):
    """The IVF coarse quantizer, ``(cell_ids, centroids)``: one
    :func:`_lloyd_fit` over the whole vector, IVF_K cells."""
    return _lloyd_fit(spark, sf_dir, IVF_K, IVF_ITERS, 1)[0]


def _cell_distances(X, cmat):
    """Exact-int64 squared L2 distance matrix (n, K) to the centroids."""
    return (
        (X * X).sum(axis=1)[:, None]
        - 2 * (X @ cmat.T)
        + (cmat * cmat).sum(axis=1)[None, :]
    )


def _assign_cells(X, cell_ids, cmat):
    """Exact-int64 nearest-centroid assignment for an (n, D) matrix;
    ties break to the smallest cell id (rows are cell-ascending, and
    argmin returns the first minimum)."""
    import numpy as np

    return cell_ids[np.argmin(_cell_distances(X, cmat), axis=1)]


def _probe_cells(X, cell_ids, cmat, n_probe: int):
    """(n, n_probe) nearest cell ids per row, (dist, cell)-ordered —
    the multi-probe search list. lexsort keys are (cell asc within
    dist asc), matching the oracle's ROW_NUMBER ORDER BY dist, cell."""
    import numpy as np

    d = _cell_distances(X, cmat)
    k = min(n_probe, d.shape[1])
    # argsort is stable; rows are cell-ascending, so equal distances
    # keep the smaller cell first — same tie-break as argmin/the oracle
    order = np.argsort(d, axis=1, kind="stable")[:, :k]
    return cell_ids[order]


def _query_topk(spark: SparkSession, sf_dir: str, ivf: bool, n_probe: int = 1) -> DataFrame:
    """Exact integer query×candidate dots via one map-side matmul pass.

    The Q×D int64 query matrix is tiny by construction; it rides into
    every task as a plain closure (what ``sc.broadcast`` does for big
    payloads), so the corpus is scanned exactly once with no shuffle
    before the per-query top-k window. With ``ivf``, the fitted
    quantizer's K×D centroid matrix also travels in the closure and
    candidates are pruned to their query's cell map-side — the scan
    count does not change, only the emitted pair count shrinks.
    ``n_probe`` > 1 widens each query's search to its n nearest cells
    (classic multi-probe recall/cost dial; candidates keep their single
    assigned cell)."""
    if not ivf:
        return _closure_topk(spark, sf_dir)
    cell_ids, cmat = _ivf_fit(spark, sf_dir)
    return _closure_topk(
        spark,
        sf_dir,
        lambda qmat: _probe_cells(qmat, cell_ids, cmat, n_probe),  # (Q, P)
        lambda X: _assign_cells(X, cell_ids, cmat),
    )


def _closure_topk(spark: SparkSession, sf_dir: str, probes_of=None, bucket_of=None) -> DataFrame:
    """The one-pass closure kernel of :func:`_query_topk`. With
    ``probes_of`` (query matrix -> (Q, P) bucket ids) and ``bucket_of``
    (batch matrix -> one bucket id per row), a candidate is kept only
    for queries probing its bucket."""
    import numpy as np
    import pandas as pd

    emb = _quantized(spark, sf_dir)
    _check_query_closure_size(N_QUERIES)
    qpdf = emb.filter(F.col("vec_id") < N_QUERIES).toPandas()
    qmat = np.array(qpdf["q"].tolist(), dtype=np.int64)
    q_ids = qpdf["vec_id"].to_numpy()
    q_norms = (qmat * qmat).sum(axis=1)  # exact int64
    q_probes = probes_of(qmat) if probes_of is not None else None

    def score(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            X = np.array(pdf["q"].tolist(), dtype=np.int64)
            c_ids = pdf["vec_id"].to_numpy()
            c_norms = (X * X).sum(axis=1)
            G = X @ qmat.T  # (n, Q) exact int64
            ci, qi = np.indices((n, len(q_ids)))
            ci, qi = ci.ravel(), qi.ravel()
            keep = c_ids[ci] != q_ids[qi]
            if q_probes is not None:
                keep &= (q_probes[qi] == bucket_of(X)[ci][:, None]).any(axis=1)
            ci, qi = ci[keep], qi[keep]
            yield pd.DataFrame(
                {
                    "q_id": q_ids[qi],
                    "c_id": c_ids[ci],
                    "dotq": G[ci, qi],
                    "d1": q_norms[qi],
                    "d2": c_norms[ci],
                }
            )

    triples = emb.mapInPandas(
        score, "q_id long, c_id long, dotq long, d1 long, d2 long"
    )
    pairs = _finish_cosine(triples, ("q_id", "c_id"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), "c_id")
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("q_id", "c_id", "cosine", "rk")
    )


@register_query(
    "similarity_bruteforce_topk",
    oracle=_topk_oracle(same_cell_only=False),
    description=f"brute-force cosine top-{TOP_K} for {N_QUERIES} query vectors (exact integer kernel, corpus scanned once map-side)",
)
def similarity_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _query_topk(spark, sf_dir, ivf=False)


@register_query(
    "similarity_ivf_topk",
    oracle=_topk_oracle(same_cell_only=True),
    description=(
        f"IVF ANN: {IVF_K}-cell Lloyd k-means coarse quantizer (deterministic "
        f"seeding, {IVF_ITERS} exact-integer assignment rounds) fitted "
        f"distributedly; candidates pruned to the query's cell before top-{TOP_K}"
    ),
)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _query_topk(spark, sf_dir, ivf=True)


IVF_NPROBE = 2


@register_query(
    "similarity_ivf_multiprobe_topk",
    oracle=_topk_oracle(same_cell_only=True, n_probe=IVF_NPROBE),
    description=(
        f"multi-probe IVF ANN: each query searches its {IVF_NPROBE} nearest "
        f"k-means cells — the standard recall/cost dial over single-probe IVF"
    ),
)
def similarity_ivf_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _query_topk(spark, sf_dir, ivf=True, n_probe=IVF_NPROBE)


def _cosine_pairs_within(emb_keyed: DataFrame, key_col: str) -> DataFrame:
    """Within-bucket near-dup cosine pairs over any blocking key.

    Candidate pairs exist only inside a ``key_col`` bucket, so pair
    count is sum-of-squares over buckets, not N². One numpy int64 Gram
    matmul per bucket inside ``applyInPandas`` (blocked — see
    COSINE_GRAM_BLOCK — and guarded by MAX_COSINE_BUCKET); a
    conservative prefilter keeps emitted triples near the threshold,
    and the exact cosine + cut is evaluated in Spark expressions."""
    import pandas as pd

    # any pair whose rounded cosine can reach the threshold satisfies
    # cosine >= threshold - 5e-7; prefilter with a hair more slack.
    prefilter = NEAR_DUP_COSINE - 6e-7
    # capture the guard at plan-build time so the pickled closure carries
    # the value (tests shrink it to exercise the skew path)
    max_bucket = MAX_COSINE_BUCKET
    block = COSINE_GRAM_BLOCK

    def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        empty = pd.DataFrame(
            {
                "v1": pd.Series(dtype="int64"),
                "v2": pd.Series(dtype="int64"),
                "dotq": pd.Series(dtype="int64"),
                "d1": pd.Series(dtype="int64"),
                "d2": pd.Series(dtype="int64"),
            }
        )
        n = len(pdf)
        if n < 2:
            return empty
        if n > max_bucket:
            # a skewed blocking key makes within-bucket work quadratic; at
            # scale that is an executor OOM, not a slow task. Fail loudly
            # with the remedy rather than let one hot bucket kill the job.
            key = pdf[key_col].iloc[0] if key_col in pdf.columns else "?"
            raise ValueError(
                f"cosine-dedup bucket {key!r} has {n} vectors "
                f"(> {max_bucket}): the blocking key is too coarse — use a "
                "finer LSH band / IVF cell, or raise "
                "SPARK_GRAFT_MAX_COSINE_BUCKET deliberately"
            )
        X = np.array(pdf["q"].tolist(), dtype=np.int64)
        ids = pdf["vec_id"].to_numpy()
        d = np.einsum("ij,ij->i", X, X)  # exact: |x| <= ~1e7, d <= 64*1e14 << 2^63
        outs = []
        # block the Gram product: peak intermediate is block*n, not n*n,
        # so memory stays bounded even at the cap
        for s in range(0, n, block):
            e = min(s + block, n)
            Gb = X[s:e] @ X.T  # (e-s, n), exact int64
            bi, bj = np.nonzero(np.triu(np.ones((e - s, n), dtype=bool), k=s + 1))
            ii = bi + s
            dotq, di, dj = Gb[bi, bj], d[ii], d[bj]
            approx = dotq / np.sqrt(di.astype(np.float64) * dj.astype(np.float64))
            keep = approx >= prefilter
            outs.append(
                pd.DataFrame(
                    {
                        "v1": np.minimum(ids[ii], ids[bj])[keep],
                        "v2": np.maximum(ids[ii], ids[bj])[keep],
                        "dotq": dotq[keep],
                        "d1": di[keep],
                        "d2": dj[keep],
                    }
                )
            )
        return pd.concat(outs, ignore_index=True) if outs else empty

    triples = emb_keyed.groupBy(key_col).applyInPandas(
        bucket_pairs, "v1 long, v2 long, dotq long, d1 long, d2 long"
    )
    return _finish_cosine(triples, ("v1", "v2")).filter(
        F.col("cosine") >= NEAR_DUP_COSINE
    )


@register_query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH q AS ({_QUANT_SQL}),
    dots AS (
      SELECT a.vec_id AS v1, b.vec_id AS v2, SUM(a.x * b.x) AS dotq
      FROM q a JOIN q b ON a.pos = b.pos AND a.label = b.label AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    ),
    norms AS ({_NORMS_SQL})
    SELECT v1, v2, cosine FROM (
      SELECT d.v1, d.v2,
             ROUND(CAST(d.dotq AS DOUBLE)
                   / SQRT(CAST(n1.d AS DOUBLE) * CAST(n2.d AS DOUBLE)), 6) AS cosine
      FROM dots d
      JOIN norms n1 ON n1.vec_id = d.v1
      JOIN norms n2 ON n2.vec_id = d.v2
    ) p WHERE cosine >= {NEAR_DUP_COSINE}
    """,
    description=f"embedding-cosine near-dup pairs (quantized cosine >= {NEAR_DUP_COSINE}) within coarse buckets",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate detection by embedding cosine, bucket-pruned on
    the fixture's coarse ``label`` column; see
    ``dedup_embedding_cosine_ivf`` for the engine-fitted blocking key."""
    return _cosine_pairs_within(_quantized(spark, sf_dir), "label")


@register_query(
    "dedup_embedding_cosine_ivf",
    oracle=f"""
    WITH q AS ({_QUANT_SQL}),
    {_IVF_CELLS_CTES},
    dots AS (
      SELECT a.vec_id AS v1, b.vec_id AS v2, SUM(a.x * b.x) AS dotq
      FROM q a
      JOIN cells ca ON ca.vec_id = a.vec_id
      JOIN q b ON a.pos = b.pos AND a.vec_id < b.vec_id
      JOIN cells cb ON cb.vec_id = b.vec_id AND cb.cell = ca.cell
      GROUP BY 1, 2
    ),
    norms AS ({_NORMS_SQL})
    SELECT v1, v2, cosine FROM (
      SELECT d.v1, d.v2,
             ROUND(CAST(d.dotq AS DOUBLE)
                   / SQRT(CAST(n1.d AS DOUBLE) * CAST(n2.d AS DOUBLE)), 6) AS cosine
      FROM dots d
      JOIN norms n1 ON n1.vec_id = d.v1
      JOIN norms n2 ON n2.vec_id = d.v2
    ) p WHERE cosine >= {NEAR_DUP_COSINE}
    """,
    description=(
        f"embedding-cosine near-dup pairs blocked by the FITTED {IVF_K}-cell "
        "k-means quantizer instead of a fixture column (the 100 TB shape: the "
        "engine derives its own bounded blocking key)"
    ),
)
def dedup_embedding_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs with the engine-fitted IVF cell as the
    blocking key — the composition the label-blocked variant's docstring
    promises at scale. Cell assignment happens map-side from the K×D
    closure model (no join, no extra shuffle beyond the groupBy the
    pair kernel needs anyway); the oracle re-derives identical cells
    through the unrolled k-means CTEs."""
    return _cosine_pairs_within(_ivf_tagged(spark, sf_dir), "cell")


def _ivf_tagged(spark: SparkSession, sf_dir: str, with_q: bool = True) -> DataFrame:
    """(vec_id, [q,] cell): every embedding tagged with its fitted IVF
    cell, map-side from the K×D closure model — no join, no shuffle."""
    cell_ids, cmat = _ivf_fit(spark, sf_dir)
    cols = ["vec_id", "q"] if with_q else ["vec_id"]

    def tag(batches):
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(pdf["q"].tolist(), dtype=np.int64)
            out = pdf[cols].copy()
            out["cell"] = _assign_cells(X, cell_ids, cmat)
            yield out

    q = "q array<long>, " if with_q else ""
    return _quantized(spark, sf_dir).mapInPandas(tag, f"vec_id long, {q}cell long")


@register_query(
    "dedup_semdedup_keep_one",
    oracle=f"""
    WITH q AS ({_QUANT_SQL}),
    {_IVF_CELLS_CTES},
    dots AS (
      SELECT a.vec_id AS v1, b.vec_id AS v2, SUM(a.x * b.x) AS dotq
      FROM q a
      JOIN cells ca ON ca.vec_id = a.vec_id
      JOIN q b ON a.pos = b.pos AND a.vec_id < b.vec_id
      JOIN cells cb ON cb.vec_id = b.vec_id AND cb.cell = ca.cell
      GROUP BY 1, 2
    ),
    norms AS ({_NORMS_SQL}),
    dropped AS (
      SELECT DISTINCT d.v2 AS vec_id
      FROM dots d
      JOIN norms n1 ON n1.vec_id = d.v1
      JOIN norms n2 ON n2.vec_id = d.v2
      WHERE ROUND(CAST(d.dotq AS DOUBLE)
                  / SQRT(CAST(n1.d AS DOUBLE) * CAST(n2.d AS DOUBLE)), 6)
            >= {NEAR_DUP_COSINE}
    )
    SELECT c.vec_id, c.cell FROM cells c
    WHERE c.vec_id NOT IN (SELECT vec_id FROM dropped)
    """,
    description=(
        f"SemDeDup keep-one: greedy smallest-id survivor per cosine ball inside the "
        f"fitted {IVF_K}-cell quantizer — the cluster-then-prune semantic dedup recipe"
    ),
)
def dedup_semdedup_keep_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup à la SemDeDup (Abbas et al., 2023, public): fit a
    k-means quantizer, then inside each cell drop every embedding that
    has a smaller-id neighbor with cosine >= {NEAR_DUP_COSINE}; emit the
    kept (vec_id, cell) corpus. Greedy ε-ball semantics, stated
    precisely: a vector is dropped when ANY smaller-id same-cell vector
    is within the ball, whether or not that neighbor itself survives —
    the standard one-pass variant, not transitive-closure grouping
    (that's ``dedup_connected_components``).

    Scale shape: cell tagging is map-side from the closure model, the
    pair kernel is the guarded within-cell Gram (quadratic only per
    bounded cell), and the final keep-list is one anti-join on vec_id —
    no global quadratic stage, no driver-side data collect."""
    # the tagged frame feeds the pair kernel AND the kept-corpus output;
    # pin it once so the quantize + cell-assignment Python pass over the
    # embeddings runs once, not twice
    tagged = _ivf_tagged(spark, sf_dir).localCheckpoint()
    pairs = _cosine_pairs_within(tagged, "cell")
    dropped = pairs.select(F.col("v2").alias("vec_id")).distinct()
    return tagged.select("vec_id", "cell").join(dropped, "vec_id", "left_anti")


# ---------------------------------------------- hyperplane-LSH top-k
# Random-hyperplane (sign) LSH for cosine ANN: NBITS deterministic ±1
# hyperplanes derived from md5 (generated once in Python, embedded as
# literals in BOTH the Spark kernel and the oracle SQL, so neither
# engine evaluates a hash). bucket = sign-bit vector of the projections.
# NBITS trades recall for candidate-set size; scale it with corpus size
# (each extra bit halves the expected bucket).
LSH_NBITS = 4
EMB_DIM = 64


def _hp_sign(bit: int, pos: int) -> int:
    """Deterministic ±1 hyperplane component from md5 (no RNG)."""
    import hashlib

    return 1 if hashlib.md5(f"hp:{bit}:{pos}".encode()).hexdigest()[0] < "8" else -1


def _hyperplane_values_sql() -> str:
    """(bit, w, pos, h) rows for the oracle's hyperplane table."""
    rows = []
    for b in range(LSH_NBITS):
        w = 1 << b
        for p in range(1, EMB_DIM + 1):
            rows.append(f"({b},{w},{p},{_hp_sign(b, p)})")
    return ", ".join(rows)


_BUCKETS_SQL = f"""
    SELECT vec_id, CAST(SUM(CASE WHEN s >= 0 THEN w ELSE 0 END) AS BIGINT) AS bucket
    FROM (
      SELECT q.vec_id, hp.bit, MIN(hp.w) AS w, SUM(q.x * hp.h) AS s
      FROM ({_QUANT_SQL}) q
      JOIN (VALUES {{HP_ROWS}}) AS hp(bit, w, pos, h) ON hp.pos = q.pos
      GROUP BY q.vec_id, hp.bit
    ) proj GROUP BY vec_id
"""


def _hyperplane_topk_oracle() -> str:
    buckets = _BUCKETS_SQL.replace("{HP_ROWS}", _hyperplane_values_sql())
    return f"""
    WITH q AS ({_QUANT_SQL}),
    bkt AS ({buckets}),
    dots AS (
      SELECT a.vec_id AS q_id, b.vec_id AS c_id, SUM(a.x * b.x) AS dotq
      FROM q a
      JOIN q b ON a.pos = b.pos AND a.vec_id <> b.vec_id
      JOIN bkt ba ON ba.vec_id = a.vec_id
      JOIN bkt bb ON bb.vec_id = b.vec_id AND bb.bucket = ba.bucket
      WHERE a.vec_id < {N_QUERIES}
      GROUP BY 1, 2
    ),
    norms AS ({_NORMS_SQL}),
    scored AS (
      SELECT d.q_id, d.c_id,
             ROUND(CAST(d.dotq AS DOUBLE)
                   / SQRT(CAST(n1.d AS DOUBLE) * CAST(n2.d AS DOUBLE)), 6) AS cosine
      FROM dots d
      JOIN norms n1 ON n1.vec_id = d.q_id
      JOIN norms n2 ON n2.vec_id = d.c_id
    )
    SELECT q_id, c_id, cosine, rk FROM (
      SELECT q_id, c_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rk
      FROM scored
    ) ranked
    WHERE rk <= {TOP_K}
    """


@register_query(
    "similarity_hyperplane_lsh_topk",
    oracle=_hyperplane_topk_oracle(),
    description=(
        f"sign-LSH ANN: {LSH_NBITS}-bit random-hyperplane buckets, exact cosine "
        f"top-{TOP_K} within the query's bucket"
    ),
)
def similarity_hyperplane_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third ANN tier beside brute-force and IVF: data-independent
    sign-LSH buckets (no trained partitioner needed). The bucket bits
    ride in the same one-pass mapInPandas kernel as the dot products, so
    the corpus is still scanned exactly once with no shuffle before the
    per-query top-k window."""
    import numpy as np

    H = np.array(
        [[_hp_sign(b, p) for p in range(1, EMB_DIM + 1)] for b in range(LSH_NBITS)],
        dtype=np.int64,
    )
    W = (np.int64(1) << np.arange(LSH_NBITS, dtype=np.int64))

    def bucket_of(X):
        return ((X @ H.T) >= 0) @ W

    return _closure_topk(spark, sf_dir, lambda qmat: bucket_of(qmat)[:, None], bucket_of)


# ------------------------------------------ bucket-keyed join ANN tier
# The scale path past MAX_CLOSURE_QUERIES: the query set never leaves
# the DataFrame plane. Both sides compute the sign-LSH bucket and the
# exact int64 norm as pure Spark expressions (zip_with/aggregate over
# the quantized array with literal hyperplanes — whole-stage codegen,
# zero Python), then a broadcast hash join on bucket pairs each corpus
# vector with the queries sharing its bucket. Per-bucket candidate
# count is sum(|Q_b| * |N_b|), never Q*N, and the query side rides the
# executor's broadcast machinery instead of task closures, so Q is
# bounded by broadcast-join memory (~GBs), not serialized-closure size.


def _dot_expr(a, b):
    """Exact int64 dot product of two array<long> columns, JVM-side."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _lsh_bucket_expr(qcol):
    """Sign-LSH bucket of an array<long> column from the same literal
    hyperplanes the closure kernels and the oracle embed."""
    bucket = F.lit(0).cast("long")
    for b in range(LSH_NBITS):
        hp = F.array(*[F.lit(_hp_sign(b, p)) for p in range(1, EMB_DIM + 1)])
        proj = _dot_expr(qcol, hp)
        bucket = bucket + F.when(proj >= 0, F.lit(1 << b)).otherwise(F.lit(0))
    return bucket


def similarity_query_join(
    spark: SparkSession, sf_dir: str, n_queries: int = N_QUERIES, top_k: int = TOP_K
) -> DataFrame:
    """ANN top-k with the query set as a broadcast-joined DataFrame.

    Same bucket semantics and IEEE cosine finish as
    ``similarity_hyperplane_lsh_topk`` — on identical inputs the two
    return identical rows — but with no query matrix in any task
    closure, so ``n_queries`` has no MAX_CLOSURE_QUERIES wall.

    Oracle coverage caveat: the registered ``similarity_query_join_topk``
    oracle pins the DEFAULT arguments (N_QUERIES, TOP_K). Calls with
    other values share every code path but are outside the driver's
    hash-compared gate — covered instead by the parameterized test in
    ``tests/test_plans.py`` asserting equality with the LSH variant."""
    corpus = (
        _quantized(spark, sf_dir)
        .withColumn("bucket", _lsh_bucket_expr(F.col("q")))
        .withColumn("d", _dot_expr(F.col("q"), F.col("q")))
    )
    queries = corpus.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"),
        F.col("q").alias("qq"),
        F.col("bucket").alias("qbucket"),
        F.col("d").alias("d1"),
    )
    triples = (
        corpus.join(
            F.broadcast(queries),
            (F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != F.col("q_id")),
        )
        .select(
            "q_id",
            F.col("vec_id").alias("c_id"),
            _dot_expr(F.col("qq"), F.col("q")).alias("dotq"),
            "d1",
            F.col("d").alias("d2"),
        )
    )
    pairs = _finish_cosine(triples, ("q_id", "c_id"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), "c_id")
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top_k)
        .select("q_id", "c_id", "cosine", "rk")
    )


@register_query(
    "similarity_query_join_topk",
    oracle=_hyperplane_topk_oracle(),
    description=(
        f"sign-LSH ANN via bucket-keyed broadcast join of the query DataFrame "
        f"(the scale path past the {MAX_CLOSURE_QUERIES}-query closure bound; "
        "pure Spark expressions, no Python)"
    ),
)
def similarity_query_join_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity_query_join(spark, sf_dir)


@register_query(
    "embedding_kmeans_clusters",
    oracle=f"""
    WITH q AS ({_QUANT_SQL}),
    {_IVF_CELLS_CTES}
    SELECT c.cell, COUNT(*) AS n_vectors,
           CAST(MIN(c.vec_id) AS BIGINT) AS min_vec_id
    FROM cells c
    GROUP BY c.cell
    """,
    description=(
        f"document clustering surfaced directly: the fitted {IVF_K}-cell integer "
        "k-means assignment as (cluster, size, representative) — the grouping a "
        "corpus-curation pipeline stratifies and mixes by"
    ),
)
def embedding_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster census over the fitted quantizer: one map-side Arrow
    pass assigns cells from the closure model, one groupBy aggregates.
    Same fit, same exact-integer assignment as the ANN tiers — the
    oracle re-derives it through the unrolled k-means CTEs."""
    tagged = _ivf_tagged(spark, sf_dir, with_q=False)
    return tagged.groupBy("cell").agg(
        F.count("*").alias("n_vectors"),
        F.min("vec_id").cast("bigint").alias("min_vec_id"),
    )


SAMPLE_PER_CLUSTER = 20
# id-hash order, the sampling module's determinism idiom (never F.rand).
# CONV returns a STRING — cast to BIGINT so both engines order numerically
_VEC_SPARK_U = "CAST(CONV(SUBSTR(MD5(CAST(vec_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"
_VEC_DUCK_U = "CAST(('0x' || SUBSTR(MD5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT)"


@register_query(
    "sample_n_per_cluster",
    oracle=f"""
    WITH q AS ({_QUANT_SQL}),
    {_IVF_CELLS_CTES}
    SELECT vec_id, cell FROM (
      SELECT c.vec_id, c.cell,
             ROW_NUMBER() OVER (
               PARTITION BY c.cell ORDER BY {_VEC_DUCK_U}, c.vec_id) AS rk
      FROM cells c
    ) t WHERE rk <= {SAMPLE_PER_CLUSTER}
    """,
    description=(
        f"cluster-stratified curation sample: {SAMPLE_PER_CLUSTER} vectors per "
        "fitted k-means cell by deterministic id-hash order (equalized semantic "
        "coverage — the anti-mode-collapse mixing step)"
    ),
)
def sample_n_per_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equalized sample across the fitted clusters: id-hash order makes
    membership independent of partitioning and cluster size, so a
    dominant semantic mode cannot crowd out the tail — the mixing
    counterpart of ``sample_n_per_language`` with the engine's OWN
    clustering as the stratum. Map-side cell assignment (closure
    model); one window shuffle on the cluster key."""
    tagged = _ivf_tagged(spark, sf_dir, with_q=False)
    w = Window.partitionBy("cell").orderBy(F.expr(_VEC_SPARK_U), "vec_id")
    return (
        tagged.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= SAMPLE_PER_CLUSTER)
        .select("vec_id", "cell")
    )


# --------------------------------------------- recall evaluation
def _recall_oracle(approx_sql: str) -> str:
    return f"""
    WITH brute AS (SELECT * FROM ({_topk_oracle(same_cell_only=False)}) b0),
    approx AS (SELECT * FROM ({approx_sql}) a0),
    hits AS (
      SELECT b.q_id, COUNT(a.c_id) AS n_hit
      FROM brute b LEFT JOIN approx a ON b.q_id = a.q_id AND b.c_id = a.c_id
      GROUP BY b.q_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(n_hit) AS BIGINT) AS total_hits,
           CAST(SUM(n_hit) * 10000 // (COUNT(*) * {TOP_K}) AS BIGINT)
             AS mean_recall_bp,
           CAST(MIN(n_hit) * 10000 // {TOP_K} AS BIGINT) AS min_recall_bp
    FROM hits
    """


def _recall_report(spark: SparkSession, sf_dir: str, approx: DataFrame) -> DataFrame:
    """recall@TOP_K of an ANN tier's (q_id, c_id) top-k against the
    brute-force ground truth, mean and worst query. Both sides are
    N_QUERIES x TOP_K rows, so the evaluation costs nothing beyond the
    searches it grades."""
    brute = similarity_bruteforce_topk(spark, sf_dir)
    got = approx.select(F.col("q_id").alias("a_q"), F.col("c_id").alias("a_c"))
    hits = (
        brute.join(got, (brute.q_id == F.col("a_q")) & (brute.c_id == F.col("a_c")), "left")
        .groupBy("q_id")
        .agg(F.count("a_c").alias("n_hit"))
    )
    return hits.agg(
        F.count("*").cast("bigint").alias("n_queries"),
        F.sum("n_hit").cast("bigint").alias("total_hits"),
        F.expr(f"CAST(sum(n_hit) * 10000 div (count(*) * {TOP_K}) AS BIGINT)").alias(
            "mean_recall_bp"
        ),
        F.expr(f"CAST(min(n_hit) * 10000 div {TOP_K} AS BIGINT)").alias(
            "min_recall_bp"
        ),
    )


@register_query(
    "similarity_ivf_recall_report",
    oracle=_recall_oracle(_topk_oracle(same_cell_only=True)),
    description=f"ANN evaluation: single-probe IVF recall@{TOP_K} against the brute-force ground truth, mean and worst query",
)
def similarity_ivf_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index evaluation AS a query: the recall a user would measure
    before trusting the IVF tier, computed inside the engine.
    Single-probe recall is the pessimistic floor; the multiprobe tier
    exists precisely to buy it back."""
    return _recall_report(spark, sf_dir, similarity_ivf_topk(spark, sf_dir))


# ------------------------------------------- product quantization (PQ/ADC)
# The memory-bound ANN tier: vectors compress to PQ_M sub-space code
# ids (here 2x 2-bit-ish codes from PQ_K=4 codewords over 32 dims
# each), and query-to-candidate distance is approximated by ADC —
# per-sub-space lookup tables built once per query, summed per
# candidate. Everything stays exact int64 (same quantized grid,
# floor-mean Lloyd updates, argmin tie-break to the smallest code), so
# the DuckDB oracle replays fit + encode + ADC bit-for-bit via the
# per-sub-space CTE chains below. At 100 TB the corpus pass reads
# codes (PQ_M bytes/vector, not D floats); here encode happens in the
# same map pass that scores, keeping one scan and zero shuffles before
# the per-query top-k window — the IVF/brute pattern above.
PQ_M = 2  # sub-spaces; D must divide evenly
PQ_K = 4  # codewords per sub-space
PQ_ITERS = 2  # assignment rounds, centroids updated between (oracle-unrolled)


def _pq_subspace_ctes(s: int, lo: int, hi: int) -> str:
    """The IVF Lloyd chain restricted to positions [lo, hi] (1-based,
    inclusive), suffixed _{s}: seeds -> assign -> floor-mean update ->
    assign = codes_{s}, plus the query ADC table dtab_{s}."""
    return f"""
    qs_{s} AS (SELECT vec_id, pos, x FROM q WHERE pos BETWEEN {lo} AND {hi}),
    seeds_{s} AS (
      SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell
      FROM (SELECT DISTINCT vec_id FROM qs_{s} ORDER BY vec_id LIMIT {PQ_K}) ids
    ),
    c0_{s} AS (
      SELECT sd.cell, v.pos, v.x AS c
      FROM qs_{s} v JOIN seeds_{s} sd ON v.vec_id = sd.vec_id
    ),
    d1_{s} AS (
      SELECT v.vec_id, c.cell, SUM((v.x - c.c) * (v.x - c.c)) AS dist
      FROM qs_{s} v JOIN c0_{s} c ON v.pos = c.pos GROUP BY 1, 2
    ),
    a1_{s} AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        FROM d1_{s}
      ) r WHERE rn = 1
    ),
    c1_{s} AS (
      SELECT a.cell, v.pos,
             CAST(FLOOR(CAST(SUM(v.x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
      FROM qs_{s} v JOIN a1_{s} a ON v.vec_id = a.vec_id GROUP BY 1, 2
    ),
    d2_{s} AS (
      SELECT v.vec_id, c.cell, SUM((v.x - c.c) * (v.x - c.c)) AS dist
      FROM qs_{s} v JOIN c1_{s} c ON v.pos = c.pos GROUP BY 1, 2
    ),
    codes_{s} AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        FROM d2_{s}
      ) r WHERE rn = 1
    ),
    dtab_{s} AS (
      SELECT v.vec_id AS q_id, c.cell, SUM((v.x - c.c) * (v.x - c.c)) AS dist
      FROM qs_{s} v JOIN c1_{s} c ON v.pos = c.pos
      WHERE v.vec_id < {N_QUERIES}
      GROUP BY 1, 2
    )"""


def _pq_oracle() -> str:
    dim_per = 64 // PQ_M  # embeddings are 64-wide (fixture schema)
    ctes = ",".join(
        _pq_subspace_ctes(s, s * dim_per + 1, (s + 1) * dim_per)
        for s in range(PQ_M)
    )
    code_joins = " ".join(
        f"JOIN codes_{s} k{s} ON k{s}.vec_id = k0.vec_id" if s else "FROM codes_0 k0"
        for s in range(PQ_M)
    )
    dtab_joins = " ".join(
        f"JOIN dtab_{s} dt{s} ON dt{s}.cell = k{s}.cell"
        + ("" if s == 0 else " AND dt{s}.q_id = dt0.q_id".format(s=s))
        for s in range(PQ_M)
    )
    dist_sum = " + ".join(f"dt{s}.dist" for s in range(PQ_M))
    return f"""
    WITH q AS ({_QUANT_SQL}),{ctes},
    approx AS (
      SELECT dt0.q_id, k0.vec_id AS c_id, {dist_sum} AS approx_dist
      {code_joins} {dtab_joins}
      WHERE k0.vec_id <> dt0.q_id
    )
    SELECT q_id, c_id, CAST(approx_dist AS BIGINT) AS approx_dist, rk FROM (
      SELECT q_id, c_id, approx_dist,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY approx_dist, c_id) AS rk
      FROM approx
    ) ranked
    WHERE rk <= {TOP_K}
    """


@register_stage("pq_model")
def _pq_fit(spark: SparkSession, sf_dir: str) -> list:
    """Per-sub-space codebooks [(code_ids, codebook (K, D/M))]: one
    :func:`_lloyd_fit` over PQ_M slices, PQ_K codewords each."""
    return _lloyd_fit(spark, sf_dir, PQ_K, PQ_ITERS, PQ_M)


@register_query(
    "similarity_pq_adc_topk",
    oracle=_pq_oracle(),
    description=(
        f"PQ/ADC ANN: {PQ_M}x{PQ_K}-codeword product quantizer (integer Lloyd fit, "
        f"oracle-replayed), asymmetric-distance top-{TOP_K} via per-query lookup tables"
    ),
)
def similarity_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC search on the fitted product quantizer.

    One corpus pass encodes each candidate map-side (per-sub-space
    exact-int argmin against the codebook in the closure) and scores it
    by summing the query's precomputed per-sub-space distance tables —
    the candidate's full vector never meets the query vector. Output is
    the integer approximated distance, ascending."""
    import numpy as np
    import pandas as pd

    emb = _quantized(spark, sf_dir)
    models = _pq_fit(spark, sf_dir)
    _check_query_closure_size(N_QUERIES)
    qpdf = emb.filter(F.col("vec_id") < N_QUERIES).toPandas()
    qmat = np.array(qpdf["q"].tolist(), dtype=np.int64)
    q_ids = qpdf["vec_id"].to_numpy()
    dim_per = qmat.shape[1] // PQ_M
    # ADC tables: (Q, K_s) exact int64 per sub-space
    dtabs = [
        _cell_distances(qmat[:, s * dim_per : (s + 1) * dim_per], cmat)
        for s, (_ids, cmat) in enumerate(models)
    ]

    def score(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            X = np.array(pdf["q"].tolist(), dtype=np.int64)
            c_ids = pdf["vec_id"].to_numpy()
            approx = np.zeros((len(q_ids), n), dtype=np.int64)
            for s, (ids, cmat) in enumerate(models):
                Xs = X[:, s * dim_per : (s + 1) * dim_per]
                rows = np.searchsorted(ids, _assign_cells(Xs, ids, cmat))
                approx += dtabs[s][:, rows]
            qi, ci = np.indices(approx.shape)
            qi, ci = qi.ravel(), ci.ravel()
            keep = q_ids[qi] != c_ids[ci]
            yield pd.DataFrame(
                {
                    "q_id": q_ids[qi[keep]],
                    "c_id": c_ids[ci[keep]],
                    "approx_dist": approx[qi[keep], ci[keep]],
                }
            )

    triples = emb.mapInPandas(score, "q_id long, c_id long, approx_dist long")
    w = Window.partitionBy("q_id").orderBy(F.asc("approx_dist"), "c_id")
    return (
        triples.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("q_id", "c_id", "approx_dist", "rk")
    )


# --------------------------------------------- PQ recall evaluation
@register_query(
    "similarity_pq_recall_report",
    oracle=_recall_oracle(_pq_oracle()),
    description=f"ANN evaluation: PQ/ADC recall@{TOP_K} against the brute-force ground truth — what {PQ_M}x{PQ_K}-codeword compression costs in ranking fidelity",
)
def similarity_pq_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same evaluation contract as the IVF report, for the compressed
    tier: cosine ground truth vs ADC ranking. Note the metrics differ —
    PQ approximates the DISTANCE ITSELF (quantization error), IVF only
    prunes candidates — so this measures end-to-end ranking fidelity
    of the codes a 100 TB deployment would actually store."""
    return _recall_report(spark, sf_dir, similarity_pq_adc_topk(spark, sf_dir))
