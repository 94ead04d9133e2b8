"""Similarity search over embedding columns (BASELINE north star:
brute-force cosine baseline + LSH-bucketed ANN scale path).

Numeric parity design: float coordinates are quantized once to 24-bit
fixed point — q = floor(x · 2²⁴ + ½) — with PURE double arithmetic (scale
by a power of two is exact, floor is exact), so Spark and DuckDB derive
bit-identical int64 coordinates. Dot products and squared norms are then
EXACT int64 sums (|q| ≤ 2²⁴ ⇒ 64-element dots ≤ 2⁵⁴), and the final cosine
is a deterministic double expression. No double→decimal casts anywhere —
those go through Java's shortest-string repr in Spark and exact-binary
rounding in DuckDB and disagree in the last ulp. Quantization error
(≤ 2⁻²⁵ relative) is invisible next to float32 inputs.

Scale notes: q46/q48 are the O(n²)/O(n·q) exact baselines used to measure
ANN recall; q47 is the shape that survives 100 TB (bucket join, per-bucket
quadratic only). A production deployment adds an IVF coarse quantizer in
place of sign-bits; the plumbing (bucket → join → per-query top-k) is
identical."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from hoops_edge_database_etl_spark.operators.fixpoint import unrolled
from hoops_edge_database_etl_spark.queries import query
from hoops_edge_database_etl_spark.tables import load

DIM = 64
Q = 1 << 24  # fixed-point scale; inputs are in (-1, 1)

_QK = f"CAST(floor(CAST(%s.embedding[k] AS DOUBLE) * {Q} + 0.5) AS BIGINT)"

# DuckDB CTE: per-vector L2 norm via exact int64 sum of squared quantized
# coordinates.
_NORM_CTE = f"""
    nrm AS (
      SELECT vec_id,
             sqrt(CAST(SUM({_QK % 'embeddings'} * {_QK % 'embeddings'}) AS DOUBLE)) AS nn
      FROM embeddings, UNNEST(range(1, {DIM + 1})) AS t(k)
      GROUP BY vec_id
    )
"""


@query(
    "q46_cosine_top_pairs",
    oracle=f"""
    WITH {_NORM_CTE},
    prod AS (
      SELECT a.vec_id AS i, b.vec_id AS j,
             CAST(SUM(CAST(floor(CAST(a.embedding[k] AS DOUBLE) * 16777216 + 0.5) AS BIGINT) * CAST(floor(CAST(b.embedding[k] AS DOUBLE) * 16777216 + 0.5) AS BIGINT)) AS BIGINT) AS dot
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id,
           UNNEST(range(1, {DIM + 1})) AS t(k)
      GROUP BY 1, 2
    )
    SELECT i AS vec_a, j AS vec_b,
           CAST(dot AS DOUBLE) / (x.nn * y.nn) AS cosine
    FROM prod JOIN nrm x ON x.vec_id = i JOIN nrm y ON y.vec_id = j
    ORDER BY cosine DESC, i, j
    LIMIT 20
    """,
)
def q46_cosine_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20 most-similar embedding pairs, brute force — the exact
    near-dup baseline ANN methods are measured against.

    Default plan is the distributed blocked all-pairs (see
    :func:`cosine_top_pairs`): no driver collect anywhere in the lineage,
    so it is the plan that runs on a 1000-executor cluster unchanged. The
    broadcast-kernel variant survives as a size-gated fast path."""
    e = load(spark, sf_dir, "embeddings")
    return cosine_top_pairs(spark, e, k=20, strategy="blocked")


def _blocked_tiles(e: DataFrame, n_blocks: int, extra_cols: tuple = ()) -> DataFrame:
    """Tile membership for distributed all-pairs: rows hash into
    ``n_blocks`` row-groups; each row is replicated to every block-pair
    tile it participates in — as the "left" side of tiles (blk, j ≥ blk)
    and the "right" side of tiles (i < blk, blk) — so each unordered row
    pair meets in exactly one ``(bi, bj)`` group. One shuffle, replication
    factor n_blocks; no single task ever holds more than one tile."""
    B = n_blocks
    blk = F.pmod(F.col("vec_id"), F.lit(B)).cast("int")
    left = F.transform(
        F.sequence(F.col("blk"), F.lit(B - 1)),
        lambda j: F.struct(F.col("blk").alias("bi"), j.alias("bj")),
    )
    right = F.filter(
        F.transform(
            F.sequence(F.lit(0), F.col("blk")),
            lambda i: F.struct(i.alias("bi"), F.col("blk").alias("bj")),
        ),
        lambda s: s["bi"] < s["bj"],
    )
    extras = list(extra_cols)
    return (
        e.select("vec_id", "embedding", *extras, blk.alias("blk"))
        .select(
            "vec_id",
            "embedding",
            *extras,
            "blk",
            F.explode(F.concat(left, right)).alias("m"),
        )
        .select("vec_id", "embedding", *extras, "blk", "m.bi", "m.bj")
    )


def cosine_pairs_threshold(
    e: DataFrame, threshold: float, n_blocks: int = 8
) -> DataFrame:
    """All pairs with cosine ≥ threshold — the near-dup pair scan — as the
    distributed blocked plan: each (bi, bj) tile is one numpy int64 matmul
    that emits only its above-threshold pairs (near-dup output is sparse,
    so the emitted set is tiny even though the scan is O(n²)). No driver
    collect anywhere; same fixed-point parity rules as the top-k kernels.
    Returns (i, j, cosine) with i < j."""
    import numpy as np

    def tile_pairs(pdf):
        import pandas as pd

        empty = pd.DataFrame({"i": [], "j": [], "cosine": []}).astype(
            {"i": "int64", "j": "int64", "cosine": "float64"}
        )
        bi, bj = int(pdf["bi"].iat[0]), int(pdf["bj"].iat[0])
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
        qm = np.floor(mat * Q + 0.5).astype(np.int64)
        nn = np.sqrt((qm * qm).sum(axis=1).astype(np.float64))
        if bi == bj:
            cos = (qm @ qm.T).astype(np.float64) / (nn[:, None] * nn[None, :])
            ii, jj = np.broadcast_arrays(ids[:, None], ids[None, :])
            mask = (ii < jj) & (cos >= threshold)
            fi, fj, fc = ii[mask], jj[mask], cos[mask]
        else:
            a = pdf["blk"].to_numpy() == bi
            b = ~a
            if not a.any() or not b.any():
                return empty
            cos = (qm[a] @ qm[b].T).astype(np.float64) / (
                nn[a][:, None] * nn[b][None, :]
            )
            ii, jj = np.broadcast_arrays(ids[a][:, None], ids[b][None, :])
            mask = cos >= threshold
            fi = np.minimum(ii[mask], jj[mask])
            fj = np.maximum(ii[mask], jj[mask])
            fc = cos[mask]
        if not len(fc):
            return empty
        return pd.DataFrame({"i": fi, "j": fj, "cosine": fc})

    return _blocked_tiles(e, n_blocks).groupBy("bi", "bj").applyInPandas(
        tile_pairs, "i long, j long, cosine double"
    )


def cosine_top_pairs(
    spark: SparkSession,
    e: DataFrame,
    k: int = 20,
    strategy: str = "blocked",
    n_blocks: int = 8,
    broadcast_threshold_rows: int = 2_000_000,
) -> DataFrame:
    """Exact global top-k cosine pairs with a choice of physical plan.

    ``blocked`` (default, the 100 TB shape): rows are hashed into
    ``n_blocks`` row-groups; each row is shuffled to every block-pair it
    participates in (replication factor = n_blocks), and one
    ``applyInPandas`` group per block-pair computes its tile of the pair
    matrix as a single numpy int64 matmul, emitting only its local top-k.
    Global answer = TakeOrdered over ≤ k·B(B+1)/2 rows. Scale knob: pick
    n_blocks so n/B rows × row-width fits executor memory and B(B+1)/2 ≳
    cluster cores; work is inherently O(n²) — that is what the exact
    baseline costs, but no single machine ever holds more than one tile.

    ``broadcast`` (fast path for corpora that fit on one executor — the
    n×64 int64 matrix is MBs up to ~1e6 vectors): broadcast the quantized
    corpus, one matmul per input partition. This collects the corpus on
    the driver, so it is gated; ``auto`` counts and picks.
    """
    import numpy as np

    if strategy == "auto":
        strategy = (
            "broadcast" if e.count() <= broadcast_threshold_rows else "blocked"
        )

    if strategy == "blocked":
        exploded = _blocked_tiles(e, n_blocks)

        def tile_topk(pdf):
            import pandas as pd

            bi, bj = int(pdf["bi"].iat[0]), int(pdf["bj"].iat[0])
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            mat = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            qm = np.floor(mat * Q + 0.5).astype(np.int64)
            nn = np.sqrt((qm * qm).sum(axis=1).astype(np.float64))
            if bi == bj:
                dots = qm @ qm.T  # exact int64
                cos = dots.astype(np.float64) / (nn[:, None] * nn[None, :])
                ii, jj = np.broadcast_arrays(ids[:, None], ids[None, :])
                mask = ii < jj
                fi, fj, fc = ii[mask], jj[mask], cos[mask]
            else:
                a = pdf["blk"].to_numpy() == bi
                b = ~a
                if not a.any() or not b.any():
                    return pd.DataFrame(
                        {"vec_a": [], "vec_b": [], "cosine": []}
                    ).astype({"vec_a": "int64", "vec_b": "int64", "cosine": "float64"})
                dots = qm[a] @ qm[b].T
                cos = dots.astype(np.float64) / (nn[a][:, None] * nn[b][None, :])
                ii, jj = np.broadcast_arrays(
                    ids[a][:, None], ids[b][None, :]
                )
                fi = np.minimum(ii, jj).ravel()
                fj = np.maximum(ii, jj).ravel()
                fc = cos.ravel()
            if not len(fc):
                return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []}).astype(
                    {"vec_a": "int64", "vec_b": "int64", "cosine": "float64"}
                )
            order = np.lexsort((fj, fi, -fc))[:k]
            return pd.DataFrame(
                {"vec_a": fi[order], "vec_b": fj[order], "cosine": fc[order]}
            )

        local = exploded.groupBy("bi", "bj").applyInPandas(
            tile_topk, "vec_a long, vec_b long, cosine double"
        )
        return local.orderBy(F.col("cosine").desc(), "vec_a", "vec_b").limit(k)

    if strategy != "broadcast":
        raise ValueError(f"unknown strategy {strategy!r}")

    corpus = e.select("vec_id", "embedding").toPandas()
    ids = corpus["vec_id"].to_numpy(dtype=np.int64)
    mat = np.array([np.asarray(v, dtype=np.float64) for v in corpus["embedding"]])
    qmat = np.floor(mat * Q + 0.5).astype(np.int64)
    norms = np.sqrt((qmat * qmat).sum(axis=1).astype(np.float64))
    bc = spark.sparkContext.broadcast((ids, qmat, norms))

    def block_topk(batches):
        import pandas as pd

        c_ids, c_q, c_n = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            b_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            b_mat = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            b_q = np.floor(b_mat * Q + 0.5).astype(np.int64)
            b_n = np.sqrt((b_q * b_q).sum(axis=1).astype(np.float64))
            dots = b_q @ c_q.T  # exact int64
            cos = dots.astype(np.float64) / (b_n[:, None] * c_n[None, :])
            ii, jj = np.broadcast_arrays(b_ids[:, None], c_ids[None, :])
            mask = ii < jj  # each unordered pair counted once
            fi, fj, fc = ii[mask], jj[mask], cos[mask]
            if not len(fc):
                continue
            order = np.lexsort((fj, fi, -fc))[:k]
            yield pd.DataFrame(
                {"vec_a": fi[order], "vec_b": fj[order], "cosine": fc[order]}
            )

    local = e.mapInPandas(block_topk, "vec_a long, vec_b long, cosine double")
    return local.orderBy(F.col("cosine").desc(), "vec_a", "vec_b").limit(k)


_BUCKET_SQL = (
    "("
    + " + ".join(f"CASE WHEN embedding[{d + 1}] >= 0 THEN {1 << d} ELSE 0 END" for d in range(4))
    + ")"
)


def _bucket_col() -> F.Column:
    """Sign-bit LSH bucket: 4 sign bits of dims 0..3 → bucket 0..15.
    A random-hyperplane LSH with axis-aligned planes — swap in learned
    hyperplanes or an IVF centroid-argmin for production recall."""
    out = F.lit(0)
    for d in range(4):
        out = out + F.when(F.element_at("embedding", d + 1) >= 0, F.lit(1 << d)).otherwise(0)
    return out


@query(
    "q47_ann_sign_lsh",
    oracle=f"""
    WITH {_NORM_CTE},
    bkt AS (SELECT vec_id, embedding, {_BUCKET_SQL} AS bucket FROM embeddings),
    prod AS (
      SELECT a.vec_id AS i, b.vec_id AS j,
             CAST(SUM(CAST(floor(CAST(a.embedding[k] AS DOUBLE) * 16777216 + 0.5) AS BIGINT) * CAST(floor(CAST(b.embedding[k] AS DOUBLE) * 16777216 + 0.5) AS BIGINT)) AS BIGINT) AS dot
      FROM bkt a JOIN bkt b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id,
           UNNEST(range(1, {DIM + 1})) AS t(k)
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT i, j, CAST(dot AS DOUBLE) / (x.nn * y.nn) AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY i ORDER BY CAST(dot AS DOUBLE) / (x.nn * y.nn) DESC, j
             ) AS rank
      FROM prod JOIN nrm x ON x.vec_id = i JOIN nrm y ON y.vec_id = j
    )
    SELECT i AS query_id, j AS neighbor_id, cosine, CAST(rank AS INTEGER) AS rank
    FROM scored WHERE rank <= 3
    """,
)
def q47_ann_sign_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-3 neighbors per vector via sign-bit LSH buckets:
    candidates are same-bucket only, so the pairwise work is per-bucket
    quadratic instead of corpus quadratic.

    Default plan is the bucket-key shuffle (see :func:`ann_sign_lsh`):
    one Exchange on the bucket key, then a per-bucket numpy kernel — no
    driver collect, so the same plan runs beyond broadcastable corpus
    size. The broadcast kernel remains as a size-gated fast path."""
    e = load(spark, sf_dir, "embeddings")
    return ann_sign_lsh(spark, e, k=3, strategy="shuffle")


def ann_sign_lsh(
    spark: SparkSession,
    e: DataFrame,
    k: int = 3,
    strategy: str = "shuffle",
    broadcast_threshold_rows: int = 2_000_000,
) -> DataFrame:
    """Sign-LSH top-k with a choice of physical plan.

    ``shuffle`` (default, the 100 TB shape): repartition by LSH bucket —
    a single Exchange hash-partitioned on the bucket key — then one
    ``applyInPandas`` group per bucket computes the intra-bucket pair
    matrix as a numpy int64 matmul and emits each member's top-k. No
    driver collect anywhere in the lineage. Scale knobs: more sign bits ⇒
    more, smaller buckets (production wants bucket count ≫ cores and
    multi-probe for recall); a hot bucket is bounded by the band width,
    and AQE skew-join handling applies to the Exchange.

    ``broadcast``: the whole corpus (quantized matrix + bucket ids) is
    collected and broadcast; each input partition answers its rows
    map-side with zero shuffles. Only valid while the corpus fits on one
    executor — gated; ``auto`` counts and picks."""
    import numpy as np

    if strategy == "auto":
        strategy = (
            "broadcast" if e.count() <= broadcast_threshold_rows else "shuffle"
        )

    schema = "query_id long, neighbor_id long, cosine double, rank int"

    if strategy == "shuffle":
        bkt = e.select("vec_id", "embedding", _bucket_col().alias("bucket"))

        def bucket_topk(pdf):
            import pandas as pd

            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            if len(ids) < 2:
                return pd.DataFrame(
                    {"query_id": [], "neighbor_id": [], "cosine": [], "rank": []}
                ).astype(
                    {
                        "query_id": "int64",
                        "neighbor_id": "int64",
                        "cosine": "float64",
                        "rank": "int32",
                    }
                )
            mat = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            qm = np.floor(mat * Q + 0.5).astype(np.int64)
            nn = np.sqrt((qm * qm).sum(axis=1).astype(np.float64))
            dots = qm @ qm.T  # exact int64
            cos = dots.astype(np.float64) / (nn[:, None] * nn[None, :])
            out_q, out_n, out_c, out_r = [], [], [], []
            for r in range(len(ids)):
                sel = ids != ids[r]
                cand_ids, cand_cos = ids[sel], cos[r][sel]
                order = np.lexsort((cand_ids, -cand_cos))[:k]
                for rank, idx in enumerate(order, start=1):
                    out_q.append(ids[r])
                    out_n.append(cand_ids[idx])
                    out_c.append(cand_cos[idx])
                    out_r.append(rank)
            return pd.DataFrame(
                {
                    "query_id": np.array(out_q, dtype=np.int64),
                    "neighbor_id": np.array(out_n, dtype=np.int64),
                    "cosine": out_c,
                    "rank": np.array(out_r, dtype=np.int32),
                }
            )

        return bkt.groupBy("bucket").applyInPandas(bucket_topk, schema)

    if strategy != "broadcast":
        raise ValueError(f"unknown strategy {strategy!r}")

    corpus = e.select("vec_id", "embedding").toPandas()
    ids = corpus["vec_id"].to_numpy(dtype=np.int64)
    mat = np.array([np.asarray(v, dtype=np.float64) for v in corpus["embedding"]])
    qmat = np.floor(mat * Q + 0.5).astype(np.int64)
    norms = np.sqrt((qmat * qmat).sum(axis=1).astype(np.float64))
    # sign-bit bucket of dims 0..3 (must mirror _BUCKET_SQL exactly)
    buckets = ((mat[:, :4] >= 0) * np.array([1, 2, 4, 8])).sum(axis=1).astype(np.int64)
    bc = spark.sparkContext.broadcast((ids, qmat, norms, buckets))

    def per_bucket_topk(batches):
        import pandas as pd

        c_ids, c_q, c_n, c_b = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            out_q, out_n, out_c, out_r = [], [], [], []
            for vid, emb in zip(pdf["vec_id"], pdf["embedding"]):
                v = np.asarray(emb, dtype=np.float64)
                qv = np.floor(v * Q + 0.5).astype(np.int64)
                bucket = int(((v[:4] >= 0) * np.array([1, 2, 4, 8])).sum())
                sel = (c_b == bucket) & (c_ids != vid)
                if not sel.any():
                    continue
                cand_ids = c_ids[sel]
                dots = c_q[sel] @ qv  # exact int64
                nq = np.sqrt(float((qv * qv).sum()))
                cos = dots.astype(np.float64) / (nq * c_n[sel])
                order = np.lexsort((cand_ids, -cos))[:k]
                for rank, idx in enumerate(order, start=1):
                    out_q.append(vid)
                    out_n.append(cand_ids[idx])
                    out_c.append(cos[idx])
                    out_r.append(rank)
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": np.array(out_q, dtype=np.int64),
                        "neighbor_id": np.array(out_n, dtype=np.int64),
                        "cosine": out_c,
                        "rank": np.array(out_r, dtype=np.int32),
                    }
                )

    return e.mapInPandas(per_bucket_topk, schema)


SEED_MOD = 97  # deterministic IVF "centroids": vectors with vec_id % 97 == 0
PROBES = 2  # nprobe: query searches its 2 nearest cells


@query(
    "q63_ann_ivf",
    oracle=f"""
    WITH {_NORM_CTE},
    seeds AS (SELECT vec_id AS sid FROM embeddings WHERE vec_id % {SEED_MOD} = 0),
    sd AS (
      SELECT e.vec_id, s.sid,
             CAST(SUM({_QK % 'e'} * {_QK % 'c'}) AS BIGINT) AS dot
      FROM embeddings e
      CROSS JOIN seeds s
      JOIN embeddings c ON c.vec_id = s.sid,
      UNNEST(range(1, {DIM + 1})) AS t(k)
      GROUP BY 1, 2
    ),
    scored_cells AS (
      SELECT sd.vec_id, sd.sid,
             ROW_NUMBER() OVER (
               PARTITION BY sd.vec_id
               ORDER BY CAST(sd.dot AS DOUBLE) / (nv.nn * ns.nn) DESC, sd.sid
             ) AS r
      FROM sd
      JOIN nrm nv ON nv.vec_id = sd.vec_id
      JOIN nrm ns ON ns.vec_id = sd.sid
    ),
    cells AS (SELECT vec_id, sid AS cell FROM scored_cells WHERE r = 1),
    probes AS (
      SELECT vec_id, sid AS cell FROM scored_cells
      WHERE r <= {PROBES} AND vec_id % 50 = 0
    ),
    cand AS (
      SELECT p.vec_id AS i, c.vec_id AS j
      FROM probes p JOIN cells c ON c.cell = p.cell AND c.vec_id <> p.vec_id
    ),
    prod AS (
      SELECT cand.i, cand.j,
             CAST(SUM({_QK % 'a'} * {_QK % 'b'}) AS BIGINT) AS dot
      FROM cand
      JOIN embeddings a ON a.vec_id = cand.i
      JOIN embeddings b ON b.vec_id = cand.j,
      UNNEST(range(1, {DIM + 1})) AS t(k)
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT i, j, CAST(dot AS DOUBLE) / (x.nn * y.nn) AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY i ORDER BY CAST(dot AS DOUBLE) / (x.nn * y.nn) DESC, j
             ) AS rank
      FROM prod JOIN nrm x ON x.vec_id = i JOIN nrm y ON y.vec_id = j
    )
    SELECT i AS query_id, j AS neighbor_id, cosine, CAST(rank AS INTEGER) AS rank
    FROM scored WHERE rank <= 3
    """,
)
def q63_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: a coarse quantizer (here a deterministic seed subset
    standing in for trained centroids — swap in k-means output without
    touching the plan) partitions the corpus into cells; each query probes
    its ``PROBES`` nearest cells and scores exact int64 cosine against
    only those cells' members. This is the second scale path the north
    star asks for next to sign-LSH (q47): cell count scales with corpus
    size while per-cell work stays bounded.

    Physical plan: centroids are collected and broadcast (the IVF
    contract — the codebook is small by construction, exactly like a
    broadcast dim table); one ``mapInPandas`` pass assigns every vector
    its nearest cell (corpus rows once, query rows once per probed cell)
    via a single numpy GEMM against the codebook; one Exchange on the
    cell key; one ``applyInPandas`` GEMM per cell emits per-query local
    top-k; a final window merges the ≤ PROBES·k candidate rows per query.
    No driver collect of the corpus anywhere."""
    e = load(spark, sf_dir, "embeddings")
    return ann_ivf(spark, e, k=3)


def ann_ivf(spark: SparkSession, e: DataFrame, k: int = 3) -> DataFrame:
    import numpy as np

    seeds = e.filter(F.col("vec_id") % SEED_MOD == 0).select(
        "vec_id", "embedding"
    ).toPandas()
    if not len(seeds):
        raise ValueError(
            f"empty IVF codebook: no vec_id divisible by {SEED_MOD}; "
            "supply a corpus containing seed ids or train real centroids"
        )
    sids = seeds["vec_id"].to_numpy(dtype=np.int64)
    smat = np.array([np.asarray(v, dtype=np.float64) for v in seeds["embedding"]])
    sq = np.floor(smat * Q + 0.5).astype(np.int64)
    sn = np.sqrt((sq * sq).sum(axis=1).astype(np.float64))
    bc = spark.sparkContext.broadcast((sids, sq, sn))

    def assign(batches):
        import pandas as pd

        c_sids, c_sq, c_sn = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            qm = np.floor(mat * Q + 0.5).astype(np.int64)
            nn = np.sqrt((qm * qm).sum(axis=1).astype(np.float64))
            cos = (qm @ c_sq.T).astype(np.float64) / (nn[:, None] * c_sn[None, :])
            # per row: seed ranking by (cosine desc, sid) — mirrors the oracle
            out_id, out_emb, out_cell, out_probe = [], [], [], []
            for r in range(len(ids)):
                order = np.lexsort((c_sids, -cos[r]))
                out_id.append(ids[r])
                out_emb.append(pdf["embedding"].iat[r])
                out_cell.append(c_sids[order[0]])
                out_probe.append(0)  # corpus membership: nearest cell only
                if ids[r] % 50 == 0:  # query rows: probe top-PROBES cells
                    for s in order[:PROBES]:
                        out_id.append(ids[r])
                        out_emb.append(pdf["embedding"].iat[r])
                        out_cell.append(c_sids[s])
                        out_probe.append(1)
            yield pd.DataFrame(
                {
                    "vec_id": np.array(out_id, dtype=np.int64),
                    "embedding": out_emb,
                    "cell": np.array(out_cell, dtype=np.int64),
                    "is_probe": np.array(out_probe, dtype=np.int32),
                }
            )

    assigned = e.mapInPandas(
        assign, "vec_id long, embedding array<float>, cell long, is_probe int"
    )

    schema = "query_id long, neighbor_id long, cosine double, rank int"

    def cell_topk(pdf):
        import pandas as pd

        empty = pd.DataFrame(
            {"query_id": [], "neighbor_id": [], "cosine": [], "rank": []}
        ).astype(
            {"query_id": "int64", "neighbor_id": "int64", "cosine": "float64", "rank": "int32"}
        )
        is_probe = pdf["is_probe"].to_numpy() == 1
        corpus, queries = pdf[~is_probe], pdf[is_probe]
        if not len(corpus) or not len(queries):
            return empty
        c_ids = corpus["vec_id"].to_numpy(dtype=np.int64)
        c_m = np.array([np.asarray(v, dtype=np.float64) for v in corpus["embedding"]])
        c_q = np.floor(c_m * Q + 0.5).astype(np.int64)
        c_n = np.sqrt((c_q * c_q).sum(axis=1).astype(np.float64))
        q_ids = queries["vec_id"].to_numpy(dtype=np.int64)
        q_m = np.array([np.asarray(v, dtype=np.float64) for v in queries["embedding"]])
        q_q = np.floor(q_m * Q + 0.5).astype(np.int64)
        q_n = np.sqrt((q_q * q_q).sum(axis=1).astype(np.float64))
        cos = (q_q @ c_q.T).astype(np.float64) / (q_n[:, None] * c_n[None, :])
        out_q, out_n, out_c = [], [], []
        for r in range(len(q_ids)):
            sel = c_ids != q_ids[r]
            cand_ids, cand_cos = c_ids[sel], cos[r][sel]
            order = np.lexsort((cand_ids, -cand_cos))[:k]
            out_q.extend([q_ids[r]] * len(order))
            out_n.extend(cand_ids[order])
            out_c.extend(cand_cos[order])
        if not out_q:
            return empty
        return pd.DataFrame(
            {
                "query_id": np.array(out_q, dtype=np.int64),
                "neighbor_id": np.array(out_n, dtype=np.int64),
                "cosine": np.array(out_c, dtype=np.float64),
                "rank": np.zeros(len(out_q), dtype=np.int32),  # ranked globally below
            }
        )

    local = assigned.groupBy("cell").applyInPandas(cell_topk, schema)
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return (
        local.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


@query(
    "q48_knn_brute_force",
    oracle=f"""
    WITH {_NORM_CTE},
    q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 50 = 0),
    prod AS (
      SELECT q.vec_id AS i, b.vec_id AS j,
             CAST(SUM(CAST(floor(CAST(q.embedding[k] AS DOUBLE) * 16777216 + 0.5) AS BIGINT) * CAST(floor(CAST(b.embedding[k] AS DOUBLE) * 16777216 + 0.5) AS BIGINT)) AS BIGINT) AS dot
      FROM q JOIN embeddings b ON q.vec_id <> b.vec_id,
           UNNEST(range(1, {DIM + 1})) AS t(k)
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT i, j, CAST(dot AS DOUBLE) / (x.nn * y.nn) AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY i ORDER BY CAST(dot AS DOUBLE) / (x.nn * y.nn) DESC, j
             ) AS rank
      FROM prod JOIN nrm x ON x.vec_id = i JOIN nrm y ON y.vec_id = j
    )
    SELECT i AS query_id, j AS neighbor_id, cosine, CAST(rank AS INTEGER) AS rank
    FROM scored WHERE rank <= 5
    """,
)
def q48_knn_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN (k=5) for a query subset against the full corpus —
    query-side broadcast × corpus stream, the recall=1 baseline. The small
    query set broadcasts (the same memory contract as broadcasting a dim
    table); the corpus streams once through a ``mapInPandas`` numpy GEMM
    emitting per-partition local top-k, and one window merges — corpus is
    never collected, and the per-pair work is vectorized instead of the
    join+fold formulation (which interprets 64 multiply-adds per pair)."""
    import numpy as np

    e = load(spark, sf_dir, "embeddings")
    qset = e.filter(F.col("vec_id") % 50 == 0).select("vec_id", "embedding").toPandas()
    q_ids = qset["vec_id"].to_numpy(dtype=np.int64)
    q_mat = np.array([np.asarray(v, dtype=np.float64) for v in qset["embedding"]])
    q_q = np.floor(q_mat * Q + 0.5).astype(np.int64)
    q_n = np.sqrt((q_q * q_q).sum(axis=1).astype(np.float64))
    bc = spark.sparkContext.broadcast((q_ids, q_q, q_n))
    k = 5

    def knn_scan(batches):
        import pandas as pd

        b_ids, b_q, b_n = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            c_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            c_m = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            c_q = np.floor(c_m * Q + 0.5).astype(np.int64)
            c_n = np.sqrt((c_q * c_q).sum(axis=1).astype(np.float64))
            cos = (b_q @ c_q.T).astype(np.float64) / (b_n[:, None] * c_n[None, :])
            out_q, out_n, out_c = [], [], []
            for r in range(len(b_ids)):
                sel = c_ids != b_ids[r]
                cand_ids, cand_cos = c_ids[sel], cos[r][sel]
                order = np.lexsort((cand_ids, -cand_cos))[:k]
                out_q.extend([b_ids[r]] * len(order))
                out_n.extend(cand_ids[order])
                out_c.extend(cand_cos[order])
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": np.array(out_q, dtype=np.int64),
                        "neighbor_id": np.array(out_n, dtype=np.int64),
                        "cosine": np.array(out_c, dtype=np.float64),
                    }
                )

    local = e.mapInPandas(knn_scan, "query_id long, neighbor_id long, cosine double")
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return (
        local.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


@query(
    "q103_label_centroids",
    oracle=f"""
    WITH x AS (
      SELECT label, i - 1 AS dim,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * {Q} + 0.5) AS BIGINT) AS q
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(dim AS BIGINT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(q) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * {float(Q)!r})
             AS centroid
    FROM x GROUP BY label, dim
    """,
)
def q103_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids — the vector AGGREGATION class (IVF
    codebook training, class prototypes for dedup/classification): each
    coordinate is quantized once with the module's 24-bit fixed-point
    primitive, summed exactly in int64 per (label, dimension) via
    posexplode + one map-side-combining shuffle, and divided back to
    double at the edge (two IEEE ops — cross-engine exact). At 100 TB
    the shuffle carries labels × dims rows of partial sums, not vectors;
    posexplode is a narrow transform that pipelines with the scan. (The
    mean-of-quantized differs from quantized-mean by < 2⁻²⁴ per
    coordinate — the sketch's stated precision, applied consistently on
    both engines.)"""
    e = load(spark, sf_dir, "embeddings")
    x = e.select(
        "label", F.posexplode("embedding").alias("dim", "val")
    ).select(
        "label",
        "dim",
        F.floor(F.col("val").cast("double") * Q + F.lit(0.5)).cast("long").alias("q"),
    )
    return x.groupBy("label", "dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (
            F.sum("q").cast("double")
            / (F.count(F.lit(1)).cast("double") * F.lit(float(Q)))
        ).alias("centroid"),
    ).select(
        F.col("label").cast("bigint").alias("label"),
        F.col("dim").cast("bigint").alias("dim"),
        "n",
        "centroid",
    )


# --- distributed PCA power iteration (q141) -------------------------------

PCA_Q = 1 << 12      # 12-bit coordinate quantization (gram products fit int64)
PCA_S = 1 << 20      # fixed-point scale of the iterated vector
PCA_SWEEPS = 8

# floor(double-divide) is used instead of integer div/% because Spark's
# `div` truncates toward zero while DuckDB's `//` floors — they disagree on
# negatives (gram entries and eigenvector components are signed). A double
# divide of int64s is correctly rounded IEEE in both engines, so
# floor(CAST(a AS DOUBLE)/CAST(b AS DOUBLE)) is bit-identical cross-engine.


def _pca_oracle() -> str:
    sweeps = []
    prev = "v0"
    for i in range(1, PCA_SWEEPS + 1):
        sweeps.append(
            f"""
    w{i} AS MATERIALIZED (
      SELECT g.j, SUM(g.gv * {prev}.v) AS w
      FROM g JOIN {prev} ON {prev}.j = g.k GROUP BY g.j
    ),
    m{i} AS MATERIALIZED (SELECT MAX(ABS(w)) AS m FROM w{i}),
    v{i} AS MATERIALIZED (
      SELECT j, CAST(floor(CAST(w AS DOUBLE) * {float(PCA_S)!r}
                           / CAST(m AS DOUBLE)) AS BIGINT) AS v
      FROM w{i}, m{i}
    )"""
        )
        prev = f"v{i}"
    return f"""
    WITH x AS MATERIALIZED (
      SELECT vec_id, t.i - 1 AS dim,
             CAST(floor(CAST(embedding[t.i] AS DOUBLE) * {PCA_Q} + 0.5) AS BIGINT) AS q
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nr FROM embeddings),
    g AS MATERIALIZED (
      SELECT a.dim AS j, b.dim AS k,
             CAST(floor(CAST(SUM(a.q * b.q) AS DOUBLE) / CAST(n.nr AS DOUBLE))
                  AS BIGINT) AS gv
      FROM x a JOIN x b ON a.vec_id = b.vec_id CROSS JOIN n
      GROUP BY a.dim, b.dim, n.nr
    ),
    v0 AS MATERIALIZED (SELECT DISTINCT j, CAST({PCA_S} AS BIGINT) AS v
           FROM (SELECT dim AS j FROM x)),
    {",".join(sweeps)},
    sgn AS (SELECT CASE WHEN SUM(v) < 0 THEN -1 ELSE 1 END AS s FROM {prev})
    SELECT CAST(j AS BIGINT) AS dim, CAST(v * sgn.s AS BIGINT) AS v
    FROM {prev}, sgn
    """


@query("q141_pca_power_iteration", oracle=_pca_oracle())
def q141_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding matrix by DISTRIBUTED
    power iteration — the whitening/projection primitive training
    pipelines run before indexing, and a shape Spark has no built-in
    for: (1) the Gram matrix XᵀX forms with NO data-sized shuffle at
    all (r12, guide §4.2 "heavy lifting in native code"): a
    mapInPandas kernel computes each partition's dense 64×64 int64
    QᵀQ block in one numpy matmul and emits 4096 partial cells, so
    the only exchange carries dim² rows per partition instead of the
    old posexplode self-join's n·dim² product rows (same exact int64
    sums — per-partition partial aggregation is associative; the
    quantization floor(x·Q + 0.5) is the identical IEEE double op in
    numpy and codegen; 12-bit quantized coords keep every product
    ≤ 2²⁴ so a row count up to 2³⁹ cannot overflow), then
    row-normalized by n so its magnitude — and every later bound — is
    data-size INDEPENDENT; (2) {k} matrix-vector sweeps run on the
    dim²-row Gram DataFrame (join on k, groupBy j — dims ≪ data, so
    these are driver-cheap but stay distributed; all {k} are one
    ``unrolled`` chain over the checkpointed Gram matrix, the q117
    recipe), each renormalized by the ``MAX(ABS(w)) OVER ()`` window to
    the 2²⁰ fixed-point scale with the floor∘double-divide that both
    engines round identically (see module comment — integer div
    disagrees on signs across engines); (3) sign fixed by ΣV ≥ 0 (a
    ``SUM(v) OVER ()`` window in the final select). The
    oracle replays all {k} sweeps as unrolled CTEs — bit-identical.
    Uncentered PCA (top right-singular direction); centering would
    subtract the q103 label-free mean first — same shapes.
    CONVERGENCE CAVEAT (round-6 audit): {k} sweeps isolate the top
    direction only when the eigengap allows — the synthetic corpus is
    near-isotropic (λ2/λ1 ≈ 0.984), so here the output is a
    NEAR-DOMINANT direction (Rayleigh quotient ≥ 0.95·λ1, asserted by
    the eigh cross-check in test_formula_recompute2), not the exact top
    eigenvector; structured real embeddings converge properly, and more
    sweeps is a constant change.""".format(
        k=PCA_SWEEPS
    )
    import numpy as np
    import pandas as pd

    e = load(spark, sf_dir, "embeddings")
    n = e.agg(F.count(F.lit(1)).cast("bigint").alias("nr"))

    def gram_blocks(batches):
        # Gram cell = corpus-level sum of 24-bit products (the q402
        # class): int64 holds to ~5.5e11 vectors (ANSI throws on a
        # genuine overflow, never a silent wrap). r12: the sum now
        # accumulates as per-partition numpy QᵀQ blocks — the scale
        # path the r9 audit named — so the exploded join and its
        # n·dim² shuffle rows are gone entirely.
        acc = None
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            q = np.floor(m * PCA_Q + 0.5).astype(np.int64)
            blk = q.T @ q
            acc = blk if acc is None else acc + blk
        if acc is not None:
            d = acc.shape[0]
            yield pd.DataFrame(
                {
                    "j": np.repeat(np.arange(d, dtype=np.int64), d),
                    "k": np.tile(np.arange(d, dtype=np.int64), d),
                    "gs": acc.reshape(-1),
                }
            )

    g = (
        e.select("embedding")
        .mapInPandas(gram_blocks, schema="j long, k long, gs long")
        .groupBy("j", "k")
        .agg(F.sum("gs").alias("gs"))
        .crossJoin(F.broadcast(n))
        .select(
            "j",
            "k",
            F.floor(F.col("gs").cast("double") / F.col("nr").cast("double"))
            .cast("long")
            .alias("gv"),
        )
        .localCheckpoint(eager=True)
    )
    return unrolled(
        f"SELECT DISTINCT j, CAST({PCA_S} AS BIGINT) AS v FROM {{g}}",
        "SELECT j, CAST(floor(CAST(w AS DOUBLE)"
        f" * {float(PCA_S)!r}D / CAST(MAX(ABS(w)) OVER () AS DOUBLE)) AS BIGINT) AS v"
        " FROM (SELECT g.j, SUM(g.gv * p.v) AS w"
        "  FROM {g} g JOIN {prev} p ON p.j = g.k GROUP BY g.j)",
        PCA_SWEEPS,
        "SELECT CAST(j AS BIGINT) AS dim,"
        " CAST(v * IF(SUM(v) OVER () < 0, -1, 1) AS BIGINT) AS v FROM {last}",
        g=g,
    )


# ---------------------------------------------------------------------------
# k-means Lloyd step (q164): the clustering primitive under every IVF /
# coarse-quantizer build (reference analogue: the codebook the reference's
# rating-tier bucketing hand-picks; q63's IVF codebook is the artifact this
# op produces when iterated).
# ---------------------------------------------------------------------------

KM_K = 8  # seed centroids: the KM_K lowest vec_ids (deterministic seeding)


@query(
    "q164_kmeans_lloyd",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, k AS pos,
             CAST(floor(CAST(embedding[k] AS DOUBLE) * {Q} + 0.5) AS BIGINT) AS qv
      FROM embeddings, UNNEST(range(1, {DIM + 1})) AS t(k)
    ),
    c AS (SELECT vec_id AS cid, pos, qv AS qc FROM q WHERE vec_id < {KM_K}),
    d AS (
      SELECT q.vec_id, c.cid,
             CAST(SUM((q.qv - c.qc) * (q.qv - c.qc)) AS BIGINT) AS dist
      FROM q JOIN c ON c.pos = q.pos
      GROUP BY q.vec_id, c.cid
    ),
    asg AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM d
      ) WHERE rn = 1
    )
    SELECT a.cid AS centroid_id, q.pos AS pos,
           CAST(COUNT(*) AS BIGINT) AS n_assigned,
           (CAST(SUM(q.qv) AS DOUBLE) / COUNT(*)) / {float(Q)!r} AS new_coord
    FROM asg a JOIN q ON q.vec_id = a.vec_id
    GROUP BY a.cid, q.pos
    """,
)
def q164_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact Lloyd iteration (assign + centroid update) over the
    embedding corpus, seeded with the KM_K lowest vec_ids. Cross-engine
    exact: coordinates quantize to the module's 24-bit fixed point, so
    each point-centroid distance is an int64 sum of squares (diff ≤ 2²⁵
    ⇒ 64 dims × 2⁵⁰ < 2⁵⁷) and the argmin (dist, cid tiebreak) picks an
    identical centroid in both engines; the updated centroid is an exact
    int64 coordinate sum divided once — the only float ops.

    The 100 TB plan — the shape MLlib's KMeans runs under the hood, laid
    out declaratively: centroids stay a BROADCAST k×d array (k ≤ 10⁵ by
    the IVF contract, q63); distances are per-row JVM higher-order
    functions (zip_with + aggregate, zero shuffle, no explode of the
    n×d matrix); the single Exchange is the map-side-combining
    (cid, pos) partial-sum aggregation of the update — identical to the
    q103 label-centroid shape. Iterating = re-running this plan with the
    returned centroids (driver holds k×d floats only); convergence probes
    collect one scalar (the q62 sweep recipe)."""
    e = load(spark, sf_dir, "embeddings")
    qv = e.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * Q + F.lit(0.5)).cast("long"),
        ).alias("qv"),
    )
    cent = qv.filter(F.col("vec_id") < KM_K).select(
        F.col("vec_id").alias("cid"), F.col("qv").alias("qc")
    )
    dist = F.aggregate(
        F.zip_with("qv", "qc", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    asg = (
        qv.crossJoin(F.broadcast(cent))
        .select("vec_id", "qv", F.struct(dist.alias("d"), F.col("cid")).alias("dc"))
        .groupBy("vec_id")
        .agg(F.min("dc").alias("best"), F.first("qv").alias("qv"))
        .select("vec_id", F.col("best.cid").alias("cid"), "qv")
    )
    return (
        asg.select("cid", F.posexplode("qv").alias("pos0", "q"))
        .groupBy(F.col("cid").alias("centroid_id"), (F.col("pos0") + 1).alias("pos"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_assigned"),
            ((F.sum("q").cast("double") / F.count(F.lit(1))) / F.lit(float(Q)))
            .alias("new_coord"),
        )
        .select(
            F.col("centroid_id").cast("bigint").alias("centroid_id"),
            F.col("pos").cast("bigint").alias("pos"),
            "n_assigned",
            "new_coord",
        )
    )


# ---------------------------------------------------------------------------
# int8 vector quantization (q176): the vector-store compression step —
# 4× memory cut for ANN serving, with the reconstruction-error audit that
# decides whether recall will survive it.
# ---------------------------------------------------------------------------


@query(
    "q176_int8_quantize",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             CAST(floor(CAST(embedding[k] AS DOUBLE) * {Q} + 0.5) AS BIGINT) AS qv
      FROM embeddings, UNNEST(range(1, {DIM + 1})) AS t(k)
    ),
    s AS (SELECT vec_id, CAST(MAX(abs(qv)) AS BIGINT) AS sc FROM q GROUP BY vec_id),
    c AS (
      SELECT q.vec_id, s.sc,
             CAST(floor(CAST(q.qv * 127 AS DOUBLE) / s.sc + 0.5) AS BIGINT) AS code,
             q.qv
      FROM q JOIN s ON s.vec_id = q.vec_id
    )
    SELECT vec_id,
           CAST(MAX(sc) AS DOUBLE) / {float(Q)!r} AS scale,
           CAST(MAX(abs(code)) AS BIGINT) AS max_code,
           CAST(SUM(abs(qv * 127 - code * sc)) AS BIGINT) AS err_total_fixed,
           CAST(MAX(abs(qv * 127 - code * sc)) AS BIGINT) AS err_max_fixed
    FROM c GROUP BY vec_id
    """,
)
def q176_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization: scale = max|coordinate|
    (in the module's 24-bit fixed point, so it is an exact int64), code =
    round(127·x/scale) ∈ [−127, 127], and the reconstruction-error audit
    in EXACT integers — the residual |qv·127 − code·scale| never touches
    a float, so Σ and max are order-free and the hash check verifies the
    quantizer bit-for-bit (a float L2 error would be partition-order-
    dependent). max_code ≤ 127 is the out-of-range guard.

    Shape: one explode + two map-side-combining reductions on vec_id (the
    q108 norm shape twice: scale pass, then code/error pass over the
    scale join — hash-partitioned on vec_id, the second join co-located
    with the first's output). At serving scale the codes themselves would
    be packed back with ``F.transform`` into an array<tinyint> column;
    the audit row per vector is the bounded output kept here."""
    e = load(spark, sf_dir, "embeddings")
    q = e.select("vec_id", F.posexplode("embedding").alias("pos", "x")).select(
        "vec_id",
        F.floor(F.col("x").cast("double") * Q + F.lit(0.5)).cast("long").alias("qv"),
    )
    s = q.groupBy("vec_id").agg(F.max(F.abs("qv")).cast("bigint").alias("sc"))
    c = q.join(s, "vec_id").select(
        "vec_id",
        "sc",
        "qv",
        F.floor((F.col("qv") * 127).cast("double") / F.col("sc") + F.lit(0.5))
        .cast("long")
        .alias("code"),
    )
    err = F.abs(F.col("qv") * 127 - F.col("code") * F.col("sc"))
    return c.groupBy("vec_id").agg(
        (F.max("sc").cast("double") / F.lit(float(Q))).alias("scale"),
        F.max(F.abs("code")).cast("bigint").alias("max_code"),
        F.sum(err).cast("bigint").alias("err_total_fixed"),
        F.max(err).cast("bigint").alias("err_max_fixed"),
    )


@query(
    "q246_hard_negative_mining",
    oracle=f"""
    WITH {_NORM_CTE},
    prod AS (
      SELECT a.vec_id AS qid, b.vec_id AS pid,
             CAST(SUM({_QK % 'a'} * {_QK % 'b'}) AS BIGINT) AS dot
      FROM embeddings a
      JOIN embeddings b ON b.vec_id <> a.vec_id AND b.label <> a.label,
           UNNEST(range(1, {DIM + 1})) AS t(k)
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT qid, pid, CAST(dot AS DOUBLE) / (x.nn * y.nn) AS cosine
      FROM prod JOIN nrm x ON x.vec_id = qid JOIN nrm y ON y.vec_id = pid
    )
    SELECT CAST(qid AS BIGINT) AS qid, CAST(pid AS BIGINT) AS pid, cosine,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT qid, pid, cosine,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY cosine DESC, pid) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """,
)
def q246_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE MINING for contrastive training: each vector's 3
    most-similar vectors carrying a DIFFERENT label — the negatives
    that actually teach a metric-learning model (random negatives are
    trivially separated; the hard ones sit near the decision surface).
    Physical plan is the q46 blocked-tile shape with the label carried
    into every tile: per tile, one int64 GEMM + a label-mask, each
    query keeps its local top-3, and the global merge re-ranks the
    ≤3·B candidates per query with a bounded window — per-tile top-3
    is sufficient because every (query, partner) pair meets in exactly
    one tile. Same fixed-point parity as the whole similarity family:
    dot products exact int64, norms the only sqrt, one final division
    identical in both engines. O(n²) like every exact mining pass; the
    blocked layout keeps any single task to one tile."""
    import numpy as np

    e = load(spark, sf_dir, "embeddings")
    exploded = _blocked_tiles(e, 8, extra_cols=("label",))

    def tile_topk(pdf):
        import pandas as pd

        empty = pd.DataFrame({"qid": [], "pid": [], "cosine": []}).astype(
            {"qid": "int64", "pid": "int64", "cosine": "float64"}
        )
        bi, bj = int(pdf["bi"].iat[0]), int(pdf["bj"].iat[0])
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        labels = pdf["label"].to_numpy()
        mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
        qm = np.floor(mat * Q + 0.5).astype(np.int64)
        nn = np.sqrt((qm * qm).sum(axis=1).astype(np.float64))

        def emit(qi, pj):
            """per query row in qi: top-3 different-label partners in pj."""
            if not qi.any() or not pj.any():
                return []
            cos = (qm[qi] @ qm[pj].T).astype(np.float64) / (
                nn[qi][:, None] * nn[pj][None, :]
            )
            out = []
            q_ids, q_lab = ids[qi], labels[qi]
            p_ids, p_lab = ids[pj], labels[pj]
            for r in range(len(q_ids)):
                mask = (p_lab != q_lab[r]) & (p_ids != q_ids[r])
                if not mask.any():
                    continue
                c, p = cos[r][mask], p_ids[mask]
                order = np.lexsort((p, -c))[:3]
                out.extend((q_ids[r], p[o], c[o]) for o in order)
            return out

        rows = []
        if bi == bj:
            all_ = np.ones(len(ids), dtype=bool)
            rows = emit(all_, all_)
        else:
            a = pdf["blk"].to_numpy() == bi
            b = ~a
            rows = emit(a, b) + emit(b, a)
        if not rows:
            return empty
        qid, pid, cs = zip(*rows)
        return pd.DataFrame(
            {"qid": list(qid), "pid": list(pid), "cosine": list(cs)}
        ).astype({"qid": "int64", "pid": "int64", "cosine": "float64"})

    local = exploded.groupBy("bi", "bj").applyInPandas(
        tile_topk, "qid long, pid long, cosine double"
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), "pid")
    return (
        local.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("qid", "pid", "cosine", F.col("rnk").cast("bigint").alias("rnk"))
    )


@query(
    "q250_maxsim_late_interaction",
    oracle=f"""
    WITH qv AS (
      SELECT vec_id AS qid, embedding FROM embeddings WHERE vec_id < 10
    ),
    dv AS (
      SELECT vec_id AS did, embedding FROM embeddings WHERE vec_id >= 10
    ),
    dots AS (
      SELECT q.qid, d.did, t1.qt, t2.dt,
             CAST(SUM(
               CAST(floor(CAST(q.embedding[t1.qt*8 + t3.k] AS DOUBLE) * {Q} + 0.5) AS BIGINT)
               * CAST(floor(CAST(d.embedding[t2.dt*8 + t3.k] AS DOUBLE) * {Q} + 0.5) AS BIGINT)
             ) AS BIGINT) AS dot
      FROM qv q JOIN dv d ON TRUE,
           UNNEST(range(0, 8)) AS t1(qt),
           UNNEST(range(0, 8)) AS t2(dt),
           UNNEST(range(1, 9)) AS t3(k)
      GROUP BY q.qid, d.did, t1.qt, t2.dt
    ),
    best AS (
      SELECT qid, did, qt, MAX(dot) AS best_dot
      FROM dots GROUP BY qid, did, qt
    ),
    maxsim AS (
      SELECT qid, did, CAST(SUM(best_dot) AS BIGINT) AS score
      FROM best GROUP BY qid, did
    )
    SELECT CAST(qid AS BIGINT) AS qid, CAST(did AS BIGINT) AS did, score,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT qid, did, score,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, did) AS rnk
      FROM maxsim
    ) WHERE rnk <= 3
    """,
)
def q250_maxsim_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style MAXSIM late interaction: each 64-dim embedding is
    viewed as 8 token-vectors × 8 dims (a documented synthetic reshape —
    the testdata ships doc-level vectors; production stores real
    per-token matrices in exactly this flattened layout), and
    score(q,d) = Σ_qt max_dt ⟨qt,dt⟩ — every query token matches its
    best document token. Default plan is the q48 shape: the small query
    set broadcasts, the corpus streams once through a mapInPandas numpy
    kernel (one int64 einsum per batch — exact, and ~100× the
    interpreted-expression form: Spark's higher-order array functions
    do NOT enter whole-stage codegen, so a pure-HOF scorer pays per-
    element lambda dispatch; :func:`maxsim_scores_hof` keeps that form
    as the dependency-free semantic reference), per-partition local
    top-3, then the bounded per-query merge window. This is the
    retrieval scorer between bi-encoder dot product (q48) and full
    cross-attention."""
    import numpy as np

    e = load(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") < 10).select("vec_id", "embedding").toPandas()
    q_ids = qv["vec_id"].to_numpy(dtype=np.int64)
    q_mat = np.array([np.asarray(v, dtype=np.float64) for v in qv["embedding"]])
    q_tok = np.floor(q_mat * Q + 0.5).astype(np.int64).reshape(len(q_ids), 8, 8)
    bc = spark.sparkContext.broadcast((q_ids, q_tok))

    dv = e.filter(F.col("vec_id") >= 10).select("vec_id", "embedding")

    def score_batches(batches):
        import pandas as pd

        qi, qt = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            d_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            d_mat = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            d_tok = np.floor(d_mat * Q + 0.5).astype(np.int64).reshape(
                len(d_ids), 8, 8
            )
            # D[q, n, s, t] = <query-token s, doc-token t> — exact int64
            dots = np.einsum("qse,nte->qnst", qt, d_tok)
            scores = dots.max(axis=3).sum(axis=2)  # [q, n]
            out_q, out_d, out_s = [], [], []
            for r in range(len(qi)):
                order = np.lexsort((d_ids, -scores[r]))[:3]  # local top-3
                out_q.extend([qi[r]] * len(order))
                out_d.extend(d_ids[order])
                out_s.extend(scores[r][order])
            yield pd.DataFrame(
                {
                    "qid": np.array(out_q, dtype=np.int64),
                    "did": np.array(out_d, dtype=np.int64),
                    "score": np.array(out_s, dtype=np.int64),
                }
            )

    local = dv.mapInPandas(score_batches, "qid long, did long, score long")
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), "did")
    return (
        local.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("qid", "did", "score", F.col("rnk").cast("bigint").alias("rnk"))
    )


def maxsim_scores_hof(dv: DataFrame, qv: DataFrame) -> DataFrame:
    """Pure-JVM MaxSim scorer — the dependency-free semantic reference
    for q250 (and the right choice for a handful of probe queries where
    kernel spin-up dominates): one nested higher-order expression —
    slice the flat array into token views, zip_with-multiply in int64
    fixed point, array_max over doc tokens, fold over query tokens.
    Correct and collect-free, but HOF lambdas are interpreted per
    element (no codegen), so the kernel path wins ~100× on bulk
    scoring. Expects dv(did, d_emb) and qv(qid, q_emb); returns
    (qid, did, score)."""

    def quant(col):
        return F.transform(
            col, lambda x: F.floor(x.cast("double") * Q + 0.5).cast("long")
        )

    j = dv.crossJoin(F.broadcast(qv)).select(
        "qid", "did", quant("q_emb").alias("qi"), quant("d_emb").alias("di")
    )
    score = F.aggregate(
        F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda qt: F.array_max(
                F.transform(
                    F.sequence(F.lit(0), F.lit(7)),
                    lambda dt: F.aggregate(
                        F.zip_with(
                            F.slice("qi", qt * 8 + 1, 8),
                            F.slice("di", dt * 8 + 1, 8),
                            lambda a, b: a * b,
                        ),
                        F.lit(0).cast("bigint"),
                        lambda acc, x: acc + x,
                    ),
                )
            ),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return j.select("qid", "did", score.alias("score"))


@query(
    "q251_ann_recall_eval",
    oracle=f"""
    WITH {_NORM_CTE},
    qset AS (SELECT vec_id FROM embeddings WHERE vec_id % 50 = 0),
    exact_prod AS (
      SELECT q.vec_id AS i, b.vec_id AS j,
             CAST(SUM({_QK % 'q'} * {_QK % 'b'}) AS BIGINT) AS dot
      FROM (SELECT e.* FROM embeddings e JOIN qset ON qset.vec_id = e.vec_id) q
      JOIN embeddings b ON q.vec_id <> b.vec_id,
           UNNEST(range(1, {DIM + 1})) AS t(k)
      GROUP BY 1, 2
    ),
    exact_top AS (
      SELECT i, j FROM (
        SELECT i, j, ROW_NUMBER() OVER (
          PARTITION BY i ORDER BY CAST(dot AS DOUBLE) / (x.nn * y.nn) DESC, j
        ) AS rank
        FROM exact_prod JOIN nrm x ON x.vec_id = i JOIN nrm y ON y.vec_id = j
      ) WHERE rank <= 3
    ),
    bkt AS (SELECT vec_id, embedding, {_BUCKET_SQL} AS bucket FROM embeddings),
    ann_prod AS (
      SELECT a.vec_id AS i, b.vec_id AS j,
             CAST(SUM({_QK % 'a'} * {_QK % 'b'}) AS BIGINT) AS dot
      FROM (SELECT bk.* FROM bkt bk JOIN qset ON qset.vec_id = bk.vec_id) a
      JOIN bkt b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id,
           UNNEST(range(1, {DIM + 1})) AS t(k)
      GROUP BY 1, 2
    ),
    ann_top AS (
      SELECT i, j FROM (
        SELECT i, j, ROW_NUMBER() OVER (
          PARTITION BY i ORDER BY CAST(dot AS DOUBLE) / (x.nn * y.nn) DESC, j
        ) AS rank
        FROM ann_prod JOIN nrm x ON x.vec_id = i JOIN nrm y ON y.vec_id = j
      ) WHERE rank <= 3
    ),
    matched AS (
      SELECT e.i, CAST(COUNT(a.j) AS BIGINT) AS n_matched
      FROM exact_top e
      LEFT JOIN ann_top a ON a.i = e.i AND a.j = e.j
      GROUP BY e.i
    )
    SELECT CAST(i AS BIGINT) AS query_id, n_matched,
           CAST(n_matched * 1000000 // 3 AS BIGINT) AS recall_ppm
    FROM matched
    """,
)
def q251_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN QUALITY GATE — recall@3 of the sign-LSH index (q47) against
    the exact baseline (q48's query set), computed by COMPOSING the two
    registered queries and joining their neighbor sets: the evaluation
    harness every ANN deployment runs before swapping an index in. Per
    query: |ANN top-3 ∩ exact top-3| / 3 as an integer-ppm recall. The
    exact side is the q48 bounded-broadcast GEMM; the ANN side reuses
    q47's bucket plan filtered to the query set — both lineages stay
    distributed, and the verdict join is queries×3 rows. Drop-in rule
    at 100 TB: recall is estimated on exactly this kind of hash-chosen
    query subset (vec_id % 50), never the full corpus."""
    from hoops_edge_database_etl_spark.queries import all_queries

    exact = (
        all_queries()["q48_knn_brute_force"](spark, sf_dir)
        .filter(F.col("rank") <= 3)
        .select(F.col("query_id").alias("i"), F.col("neighbor_id").alias("j"))
    )
    ann = (
        all_queries()["q47_ann_sign_lsh"](spark, sf_dir)
        .filter(F.col("query_id") % 50 == 0)
        .select(
            F.col("query_id").alias("ai"), F.col("neighbor_id").alias("aj")
        )
    )
    matched = (
        exact.join(
            ann, (F.col("ai") == F.col("i")) & (F.col("aj") == F.col("j")), "left"
        )
        .groupBy("i")
        .agg(F.count("aj").cast("bigint").alias("n_matched"))
    )
    return matched.select(
        F.col("i").cast("bigint").alias("query_id"),
        "n_matched",
        F.expr("CAST(n_matched * 1000000 DIV 3 AS BIGINT)").alias("recall_ppm"),
    )


@query(
    "q259_semantic_decontamination",
    oracle=f"""
    WITH {_NORM_CTE},
    ev AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 100 = 7),
    prod AS (
      SELECT c.vec_id AS cid, e.vec_id AS eid,
             CAST(SUM({_QK % 'c'} * {_QK % 'e'}) AS BIGINT) AS dot
      FROM embeddings c JOIN ev e ON e.vec_id <> c.vec_id,
           UNNEST(range(1, {DIM + 1})) AS t(k)
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT cid, eid, CAST(dot AS DOUBLE) / (x.nn * y.nn) AS cosine
      FROM prod JOIN nrm x ON x.vec_id = cid JOIN nrm y ON y.vec_id = eid
    )
    SELECT CAST(cid AS BIGINT) AS vec_id,
           CAST(COUNT(*) AS BIGINT) AS n_close_eval,
           MAX(cosine) AS max_eval_cosine
    FROM scored WHERE cosine >= 0.35
    GROUP BY cid
    """,
)
def q259_semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC eval-set decontamination — flag training vectors whose
    embedding is ≥ 0.35 cosine to ANY held-out eval vector (the threshold is calibrated per corpus — here the synthetic vectors' cross-pair cosines top out near 0.49, so 0.35 flags the suspicious tail): the
    paraphrase-level leak that q82's 5-gram overlap can never see
    (reworded eval questions share no shingles but sit next to each
    other in embedding space). The eval set is small by construction
    (hash-chosen here) and BROADCASTS; the corpus streams once — a
    corpus×eval GEMM, not corpus×corpus, so the cost is linear in the
    corpus at any scale (the q48 bounded-side contract). Same 24-bit
    fixed-point parity as the whole family; the threshold compares
    identical doubles in both engines. Output: the contamination
    report a data-release audit attaches — flagged vector, how many
    eval items it leaks, and the worst offender score."""
    e = load(spark, sf_dir, "embeddings")
    ev = e.filter(F.col("vec_id") % 100 == 7).select(
        F.col("vec_id").alias("eid"), F.col("embedding").alias("e_emb")
    )

    def quant(col):
        return F.transform(
            col, lambda x: F.floor(x.cast("double") * Q + 0.5).cast("long")
        )

    j = (
        e.select(F.col("vec_id").alias("cid"), quant("embedding").alias("ci"))
        .crossJoin(
            F.broadcast(ev.select("eid", quant("e_emb").alias("ei")))
        )
        .filter(F.col("cid") != F.col("eid"))
    )
    dot = F.aggregate(
        F.zip_with("ci", "ei", lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    nrm = lambda c: F.sqrt(
        F.aggregate(
            F.transform(c, lambda x: x * x),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).cast("double")
    )
    scored = j.select(
        "cid",
        "eid",
        (dot.cast("double") / (nrm("ci") * nrm("ei"))).alias("cosine"),
    )
    return (
        scored.filter(F.col("cosine") >= 0.35)
        .groupBy(F.col("cid").cast("bigint").alias("vec_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_close_eval"),
            F.max("cosine").alias("max_eval_cosine"),
        )
    )


NEG_TRIES = 8  # candidate draws per customer
NEG_KEEP = 3   # negatives kept per customer


@query(
    "q302_negative_sampling",
    oracle=f"""
    WITH buyers AS (SELECT DISTINCT o_custkey AS c FROM orders),
    pos AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    mx AS (SELECT MAX(p_partkey) AS maxpk FROM part),
    cand AS (
      SELECT b.c, t.i,
             1 + CAST('0x' || substr(md5(CAST(b.c AS VARCHAR) || ':neg:' ||
                   CAST(t.i AS VARCHAR)), 1, 8) AS BIGINT) % mx.maxpk AS p
      FROM buyers b, mx, unnest(generate_series(1, {NEG_TRIES})) AS t(i)
    ),
    neg AS (
      SELECT c.c, c.p, MIN(c.i) AS first_try
      FROM cand c
      WHERE NOT EXISTS (SELECT 1 FROM pos WHERE pos.c = c.c AND pos.p = c.p)
      GROUP BY c.c, c.p
    ),
    ranked AS (
      SELECT c, p,
             ROW_NUMBER() OVER (PARTITION BY c ORDER BY first_try, p) AS rnk
      FROM neg
    )
    SELECT CAST(c AS BIGINT) AS custkey, CAST(p AS BIGINT) AS neg_partkey,
           CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {NEG_KEEP}
    """,
)
def q302_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC NEGATIVE SAMPLING — the contrastive-training primitive
    (word2vec, two-tower retrieval, DPO pair mining): for every customer,
    draw candidate parts from a seeded hash stream, REJECT any part the
    customer actually bought (the classic false-negative bug — a
    "negative" the user loved), and keep the first K survivors. Draws
    are md5(c:neg:i) mod |parts| — reproducible across engines, runs,
    and partitionings (no rand(): the house determinism rule). Plan:
    buyers x 8 literal tries via explode (narrow), ONE
    anti-join against the positives table on (customer, part) — the
    shuffle; the per-customer rank orders by first successful try over
    <= 8 rows per customer (bounded window). Rejection
    shortfall is explicit: a customer whose draws all collide with
    positives yields < K rows — visible in the output, property-tested,
    and at 100 TB the fix is raising tries, not resampling in a loop.
    The positives side is the big table; it arrives pre-hashed on the
    same join key the anti-join shuffles on."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    buyers = o.select(F.col("o_custkey").alias("c")).distinct()
    pos = (
        o.select("o_orderkey", F.col("o_custkey").alias("c"))
        .join(li.select(F.col("l_orderkey").alias("o_orderkey"),
                        F.col("l_partkey").alias("p")), "o_orderkey")
        .select("c", "p")
        .distinct()
    )
    mx = part.agg(F.max("p_partkey").alias("maxpk"))
    cand = (
        buyers.crossJoin(F.broadcast(mx))
        .select("c", "maxpk", F.explode(F.sequence(F.lit(1), F.lit(NEG_TRIES))).alias("i"))
        .select(
            "c",
            "i",
            (
                1
                + F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("c").cast("string"),
                                F.lit(":neg:"),
                                F.col("i").cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("bigint")
                % F.col("maxpk")
            ).alias("p"),
        )
    )
    neg = (
        cand.join(pos, ["c", "p"], "anti")
        .groupBy("c", "p")
        .agg(F.min("i").alias("first_try"))
    )
    w = Window.partitionBy("c").orderBy("first_try", "p")
    return (
        neg.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= NEG_KEEP)
        .select(
            F.col("c").cast("bigint").alias("custkey"),
            F.col("p").cast("bigint").alias("neg_partkey"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


PQ_SUBSPACES = 4          # 64 dims -> 4 x 16-dim subvectors
PQ_SUBDIM = DIM // PQ_SUBSPACES
PQ_K = 8                  # centroids per subspace: subvectors of vec_id < 8


@query(
    "q309_pq_assign",
    oracle=f"""
    WITH qd AS (
      SELECT vec_id, t.k, (t.k - 1) // {PQ_SUBDIM} AS sub,
             CAST(floor(CAST(embedding[k] AS DOUBLE) * {Q} + 0.5) AS BIGINT) AS qv
      FROM embeddings, UNNEST(range(1, {DIM + 1})) AS t(k)
    ),
    cb AS (SELECT vec_id AS cid, k, qv AS qc FROM qd WHERE vec_id < {PQ_K}),
    d AS (
      SELECT q.vec_id, q.sub, c.cid,
             CAST(SUM((q.qv - c.qc) * (q.qv - c.qc)) AS BIGINT) AS dist
      FROM qd q JOIN cb c ON c.k = q.k
      GROUP BY 1, 2, 3
    ),
    r AS (
      SELECT vec_id, sub, cid, dist,
             ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                ORDER BY dist, cid) AS rn
      FROM d
    )
    SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(sub AS BIGINT) AS sub,
           CAST(cid AS BIGINT) AS code, dist
    FROM r WHERE rn = 1
    """,
)
def q309_pq_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCT QUANTIZATION encoding — the memory-side half of modern
    ANN (FAISS's PQ/IVFPQ): split each 64-dim vector into
    4 x 16-dim subvectors and store only the id
    of the nearest codebook centroid per subspace — 4
    bytes instead of 64 floats, a 64x compression that turns a
    100 TB embedding store into a RAM-resident index. Codebook =
    subvectors of vec_id < 8 (deterministic "training", q63's IVF
    codebook rule; a real train step is k-means — q164 — feeding the
    same assignment). Distances are exact int64 fixed-point squared-L2
    (the q108 norm rule: no float accumulation, ties break on centroid
    id). Plan: posexplode dims -> broadcast 8x64-row codebook
    equi-join on the dim index -> (vec, subspace, centroid) sum -> one
    bounded 8-row-per-key argmin window. Everything codegen
    JVM; per-vector cost is O(64 x 8) independent of corpus
    size."""
    e = load(spark, sf_dir, "embeddings")
    qd = e.select(
        "vec_id", F.posexplode("embedding").alias("k0", "val")
    ).select(
        "vec_id",
        "k0",
        F.expr(f"k0 DIV {PQ_SUBDIM}").alias("sub"),
        F.floor(F.col("val").cast("double") * Q + F.lit(0.5))
        .cast("long")
        .alias("qv"),
    )
    cb = qd.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("cid"), "k0", F.col("qv").alias("qc")
    )
    d = (
        qd.join(F.broadcast(cb), "k0")
        .groupBy("vec_id", "sub", "cid")
        .agg(
            F.sum((F.col("qv") - F.col("qc")) * (F.col("qv") - F.col("qc")))
            .cast("long")
            .alias("dist")
        )
    )
    w = Window.partitionBy("vec_id", "sub").orderBy("dist", "cid")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("vec_id").cast("bigint"),
            F.col("sub").cast("bigint"),
            F.col("cid").cast("bigint").alias("code"),
            F.col("dist").cast("bigint"),
        )
    )


MRL_DIM = 16  # truncated prefix length under evaluation


@query(
    "q345_matryoshka_eval",
    oracle=f"""
    WITH nrm64 AS (
      SELECT vec_id,
             sqrt(CAST(SUM({_QK % 'embeddings'} * {_QK % 'embeddings'})
                  AS DOUBLE)) AS nn
      FROM embeddings, UNNEST(range(1, {DIM + 1})) AS t(k)
      GROUP BY vec_id
    ),
    nrm16 AS (
      SELECT vec_id,
             sqrt(CAST(SUM({_QK % 'embeddings'} * {_QK % 'embeddings'})
                  AS DOUBLE)) AS nn
      FROM embeddings, UNNEST(range(1, {MRL_DIM + 1})) AS t(k)
      GROUP BY vec_id
    ),
    qset AS (SELECT vec_id FROM embeddings WHERE vec_id % 50 = 0),
    dot64 AS (
      SELECT q.vec_id AS i, b.vec_id AS j,
             CAST(SUM({_QK % 'q'} * {_QK % 'b'}) AS BIGINT) AS dot
      FROM (SELECT e.* FROM embeddings e JOIN qset ON qset.vec_id = e.vec_id) q
      JOIN embeddings b ON q.vec_id <> b.vec_id,
           UNNEST(range(1, {DIM + 1})) AS t(k)
      GROUP BY 1, 2
    ),
    dot16 AS (
      SELECT q.vec_id AS i, b.vec_id AS j,
             CAST(SUM({_QK % 'q'} * {_QK % 'b'}) AS BIGINT) AS dot
      FROM (SELECT e.* FROM embeddings e JOIN qset ON qset.vec_id = e.vec_id) q
      JOIN embeddings b ON q.vec_id <> b.vec_id,
           UNNEST(range(1, {MRL_DIM + 1})) AS t(k)
      GROUP BY 1, 2
    ),
    top64 AS (
      SELECT i, j FROM (
        SELECT i, j, ROW_NUMBER() OVER (
          PARTITION BY i ORDER BY CAST(dot AS DOUBLE) / (x.nn * y.nn) DESC, j
        ) AS rnk
        FROM dot64 JOIN nrm64 x ON x.vec_id = i JOIN nrm64 y ON y.vec_id = j
      ) WHERE rnk <= 3
    ),
    top16 AS (
      SELECT i, j FROM (
        SELECT i, j, ROW_NUMBER() OVER (
          PARTITION BY i ORDER BY CAST(dot AS DOUBLE) / (x.nn * y.nn) DESC, j
        ) AS rnk
        FROM dot16 JOIN nrm16 x ON x.vec_id = i JOIN nrm16 y ON y.vec_id = j
      ) WHERE rnk <= 3
    )
    SELECT CAST(e.i AS BIGINT) AS query_id,
           CAST(COUNT(a.j) AS BIGINT) AS n_matched,
           CAST(COUNT(a.j) * 1000000 // 3 AS BIGINT) AS recall_ppm
    FROM top64 e LEFT JOIN top16 a ON a.i = e.i AND a.j = e.j
    GROUP BY e.i
    """,
)
def q345_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRYOSHKA TRUNCATION eval — the question MRL embeddings let you
    ask: if retrieval ranks by only the FIRST 16 of 64
    dimensions (4x cheaper dot products, 4x smaller index), how much
    of full-precision top-3 survives? Same recall@k harness as q251,
    but the "approximate" side is a DIMENSION PREFIX instead of an LSH
    bucket — the modern cost lever (rerank the truncated top-K with
    full dims) that the IVF/LSH family doesn't measure. Cosine per
    width uses its OWN prefix norms (the subtle bug: ranking truncated
    dots against full-width norms silently changes the metric). Exact
    int64 fixed-point dots at both widths; per-query rank windows are
    bounded by the query set. At corpus scale the truncated pass is
    the cheap full sweep and the full-dim pass runs only on its
    survivors — this gate certifies that shortcut's recall before it
    ships."""
    e = load(spark, sf_dir, "embeddings")
    qset = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    base = e.select(F.col("vec_id").alias("did"), F.col("embedding").alias("de"))

    def quant(col, dim):
        return F.transform(
            F.slice(col, 1, dim),
            lambda x: F.floor(x.cast("double") * Q + F.lit(0.5)).cast("long"),
        )

    def tops(dim, label):
        qq = qset.select("qid", quant(F.col("qe"), dim).alias("qv"))
        dd = base.select("did", quant(F.col("de"), dim).alias("dv"))
        j = qq.crossJoin(dd).filter(F.col("qid") != F.col("did"))
        dot = F.aggregate(
            F.zip_with("qv", "dv", lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        nrm = lambda c: F.sqrt(
            F.aggregate(
                F.transform(c, lambda x: x * x),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).cast("double")
        )
        scored = j.select(
            "qid",
            "did",
            (dot.cast("double") / (nrm(F.col("qv")) * nrm(F.col("dv")))).alias(
                "cosine"
            ),
        )
        w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), "did")
        return (
            scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 3)
            .select("qid", F.col("did").alias(label))
        )

    full = tops(DIM, "j64").withColumnRenamed("qid", "fqid")
    trunc = tops(MRL_DIM, "j16").withColumnRenamed("qid", "tqid")
    j = full.join(
        trunc,
        (F.col("fqid") == F.col("tqid")) & (F.col("j64") == F.col("j16")),
        "left",
    ).select(F.col("fqid").alias("query_id"), F.col("j16").alias("hit"))
    return j.groupBy("query_id").agg(
        F.count("hit").cast("bigint").alias("n_matched"),
        F.expr("COUNT(hit) * 1000000 DIV 3").cast("bigint").alias("recall_ppm"),
    ).select(
        F.col("query_id").cast("bigint"), "n_matched", "recall_ppm"
    )


ELBOW_KS = (2, 3, 4, 5, 6)


@query(
    "q402_elbow_wcss",
    oracle=f"""
    WITH sweeps AS (SELECT UNNEST(ARRAY{list(ELBOW_KS)}) AS k),
    qd AS (
      SELECT vec_id, t.k AS dim,
             CAST(floor(CAST(embedding[t.k] AS DOUBLE) * {Q} + 0.5)
               AS BIGINT) AS qv
      FROM embeddings, UNNEST(range(1, {DIM + 1})) AS t(k)
    ),
    dists AS (
      SELECT s.k, v.vec_id, c.vec_id AS cid,
             CAST(SUM((v.qv - c.qv) * (v.qv - c.qv)) AS BIGINT) AS dist
      FROM sweeps s
      JOIN qd v ON TRUE
      JOIN qd c ON c.dim = v.dim AND c.vec_id < s.k
      GROUP BY s.k, v.vec_id, c.vec_id
    ),
    nearest AS (
      SELECT k, vec_id, MIN(dist) AS mind FROM dists GROUP BY k, vec_id
    ),
    wcss AS (
      -- DECIMAL(38,0): the corpus-level sum of per-vector distances
      -- overflows int64 past ~sf0.3 (round-8 soak caught it live at sf1)
      SELECT k, CAST(SUM(mind) AS DECIMAL(38, 0)) AS wcss FROM nearest GROUP BY k
    ),
    curve AS (
      SELECT k, wcss,
             LAG(wcss) OVER (ORDER BY k) AS prev_w,
             LEAD(wcss) OVER (ORDER BY k) AS next_w
      FROM wcss
    )
    SELECT k, CAST(wcss AS BIGINT) AS wcss,
           CAST(prev_w - wcss AS BIGINT) AS drop_from_prev,
           CASE WHEN prev_w IS NOT NULL AND next_w IS NOT NULL
                THEN CAST(prev_w + next_w - 2 * wcss AS BIGINT) END
             AS curvature,
           prev_w IS NOT NULL AND next_w IS NOT NULL
             AND prev_w + next_w - 2 * wcss = (
               SELECT MAX(c2.prev_w + c2.next_w - 2 * c2.wcss) FROM curve c2
               WHERE c2.prev_w IS NOT NULL AND c2.next_w IS NOT NULL)
             AS is_knee
    FROM curve
    """,
)
def q402_elbow_wcss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ELBOW CURVE for k selection — q164 runs Lloyd at one k; this
    prices the CHOICE: within-cluster sum of squares at each k in
    2..6 (deterministic first-k codebooks, q309's rule), the
    discrete second difference as the curvature, and the max-
    curvature row flagged as the KNEE — the classic heuristic made
    exact, because with int64 fixed-point distances the WCSS values
    and their differences are integers, so "where the curve bends"
    has one deterministic answer instead of a matplotlib squint.
    All five sweeps share one dimension-exploded pass (the sweep
    grid joins the same quantized table — k more candidates, not k
    more scans); the curvature window runs over five rows. The gap
    statistic replaces the heuristic when rigor is needed — its
    reference-set machinery is this query over hash-uniform points
    (q354's coins), noted for the roadmap."""
    e = load(spark, sf_dir, "embeddings")
    qd = e.select(
        "vec_id", F.posexplode("embedding").alias("dim", "val")
    ).select(
        "vec_id",
        "dim",
        F.floor(F.col("val").cast("double") * Q + F.lit(0.5))
        .cast("long")
        .alias("qv"),
    )
    sweeps = spark.createDataFrame([(k,) for k in ELBOW_KS], "k int")
    cents = (
        qd.filter(F.col("vec_id") < max(ELBOW_KS))
        .crossJoin(F.broadcast(sweeps))
        .filter(F.col("vec_id") < F.col("k"))
        .select("k", F.col("vec_id").alias("cid"), "dim", F.col("qv").alias("qc"))
    )
    dists = (
        qd.join(F.broadcast(cents), "dim")
        .groupBy("k", "vec_id", "cid")
        .agg(
            F.sum((F.col("qv") - F.col("qc")) * (F.col("qv") - F.col("qc")))
            .cast("long")
            .alias("dist")
        )
    )
    nearest = dists.groupBy("k", "vec_id").agg(F.min("dist").alias("mind"))
    # DECIMAL(38,0) accumulator (round 8): each per-vector distance fits
    # int64 (<= 64 dims x (2Q)^2 ~ 7e16) but the CORPUS sum is n of
    # those — the sf1 soak hit ARITHMETIC_OVERFLOW live at 20k vectors.
    wcss = nearest.groupBy("k").agg(
        F.sum(F.col("mind").cast("decimal(38,0)")).cast("decimal(38,0)").alias("wcss")
    )
    wk = Window.orderBy("k")
    curve = wcss.select(
        "k",
        "wcss",
        F.lag("wcss").over(wk).alias("prev_w"),
        F.lead("wcss").over(wk).alias("next_w"),
    )
    curv = F.when(
        F.col("prev_w").isNotNull() & F.col("next_w").isNotNull(),
        F.col("prev_w") + F.col("next_w") - 2 * F.col("wcss"),
    )
    maxc = curve.agg(
        F.max(
            F.when(
                F.col("prev_w").isNotNull() & F.col("next_w").isNotNull(),
                F.col("prev_w") + F.col("next_w") - 2 * F.col("wcss"),
            )
        ).alias("max_curv")
    )
    # Accumulators stay DECIMAL(38,0) (the r8 overflow fix); the OUTPUT
    # casts to BIGINT because the driver hasher serializes DECIMAL
    # differently across engines (r10 red row). wcss at driver SFs is
    # <= 2.6e17 < 2^63; ANSI mode throws rather than wraps past that.
    return curve.crossJoin(F.broadcast(maxc)).select(
        "k",
        F.col("wcss").cast("bigint").alias("wcss"),
        (F.col("prev_w") - F.col("wcss"))
        .cast("bigint")
        .alias("drop_from_prev"),
        curv.cast("bigint").alias("curvature"),
        (
            F.col("prev_w").isNotNull()
            & F.col("next_w").isNotNull()
            & (
                F.col("prev_w") + F.col("next_w") - 2 * F.col("wcss")
                == F.col("max_curv")
            )
        ).alias("is_knee"),
    )


_MMR_SENTINEL = -1152921504606846976  # -2^60: below any 24-bit-quantized dot
_MMR_K = 10


def _mmr_kernel(pdf):
    """Integer-exact MMR (λ=½ → score ∝ rel − max_sim) over one query's
    candidate pool; tiebreak on vec_id ascending."""
    import numpy as np
    import pandas as pd

    pdf = pdf.sort_values("vec_id")
    q_mask = pdf["vec_id"] == 0
    qv = np.floor(
        np.stack(pdf.loc[q_mask, "embedding"].values).astype(np.float64)
        * (1 << 24)
        + 0.5
    ).astype(np.int64)[0]
    cand = pdf.loc[~q_mask]
    ids = cand["vec_id"].to_numpy()
    mat = np.floor(
        np.stack(cand["embedding"].values).astype(np.float64) * (1 << 24) + 0.5
    ).astype(np.int64)
    rel = mat @ qv
    n = len(ids)
    msim = np.full(n, _MMR_SENTINEL, dtype=np.int64)
    alive = np.ones(n, dtype=bool)
    out = []
    for rank in range(1, _MMR_K + 1):
        score = rel - msim
        # argmax with vec_id-ascending tiebreak over surviving candidates
        best = min(
            (i for i in range(n) if alive[i]),
            key=lambda i: (-int(score[i]), int(ids[i])),
        )
        out.append(
            (
                rank,
                int(ids[best]),
                int(rel[best]),
                None if msim[best] == _MMR_SENTINEL else int(msim[best]),
            )
        )
        alive[best] = False
        # one GEMV per pick instead of a materialized n x n sims matrix:
        # only the WINNER's similarity column is ever read, so the full
        # mat @ mat.T was O(n^2 d) work + O(n^2) memory for K columns —
        # bit-identical values, O(K n d) (round-7 soak fix).
        msim = np.maximum(msim, mat @ mat[best])
    return pd.DataFrame(
        out, columns=["rank", "vec_id", "rel", "max_sim_prev"]
    )


@query(
    "q433_mmr_rerank",
    oracle=f"""
    WITH RECURSIVE q AS (
      SELECT embedding FROM embeddings WHERE vec_id = 0
    ),
    cand AS MATERIALIZED (
      SELECT e.vec_id,
             (SELECT CAST(SUM(
                CAST(floor(CAST(e.embedding[k] AS DOUBLE) * 16777216 + 0.5)
                     AS BIGINT)
                * CAST(floor(CAST(q.embedding[k] AS DOUBLE) * 16777216 + 0.5)
                       AS BIGINT)) AS BIGINT)
              FROM range(1, 65) t(k)) AS rel
      FROM embeddings e, q WHERE e.vec_id <> 0
    ),
    sims AS MATERIALIZED (
      SELECT a.vec_id AS ai, b.vec_id AS bi,
             (SELECT CAST(SUM(
                CAST(floor(CAST(a.embedding[k] AS DOUBLE) * 16777216 + 0.5)
                     AS BIGINT)
                * CAST(floor(CAST(b.embedding[k] AS DOUBLE) * 16777216 + 0.5)
                       AS BIGINT)) AS BIGINT)
              FROM range(1, 65) t(k)) AS s
      FROM embeddings a JOIN embeddings b
        ON a.vec_id <> b.vec_id AND a.vec_id <> 0 AND b.vec_id <> 0
    ),
    mmr(iter, vec_id, rel, msim) AS (
      SELECT CAST(0 AS BIGINT), vec_id, rel, CAST({_MMR_SENTINEL} AS BIGINT)
      FROM cand
      UNION ALL
      SELECT t.iter + 1, t.vec_id, t.rel, GREATEST(t.msim, s.s)
      FROM (
        SELECT r.iter, r.vec_id, r.rel, r.msim,
               FIRST_VALUE(r.vec_id) OVER (ORDER BY r.rel - r.msim DESC,
                                           r.vec_id) AS wid
        FROM mmr r
      ) t JOIN sims s ON s.ai = t.vec_id AND s.bi = t.wid
      WHERE t.vec_id <> t.wid AND t.iter < {_MMR_K - 1}
    )
    SELECT CAST(iter + 1 AS BIGINT) AS rank, vec_id, rel,
           CASE WHEN msim = {_MMR_SENTINEL} THEN NULL ELSE msim END
             AS max_sim_prev
    FROM (
      SELECT iter, vec_id, rel, msim,
             ROW_NUMBER() OVER (PARTITION BY iter
                                ORDER BY rel - msim DESC, vec_id) AS rn
      FROM mmr
    ) WHERE rn = 1
    """,
)
def q433_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR (Maximal Marginal Relevance) diversified re-ranking — the
    serving-side step every retrieval stack runs between ANN recall
    (q47/q63) and the response: pick 10 results that are RELEVANT to
    the query (vec_id 0) but not redundant with each other, greedily
    maximizing rel − max-sim-to-already-selected (λ=½, so the
    tradeoff collapses to an integer subtraction — both dots are
    q46's exact 24-bit fixed-point products, so the whole greedy
    chain is integer arithmetic with a vec_id tiebreak, nothing
    float-ordered anywhere). The kernel is a sanctioned §2.9 grouped
    map (the candidate pool for ONE query is re-rank-sized by
    construction — ANN already cut it; at 100 TB you run one group
    per query, this fixture runs the single query the tables hold).
    The ORACLE replays the greedy chain as a recursive CTE whose
    working set carries every remaining candidate's CURRENT
    max-sim-to-selected: each step picks the winner with a window
    FIRST_VALUE (no second reference to the recursive table), drops
    it, and folds its similarity row into the survivors' state — the
    q428 list-state trick generalized to per-row state. The sentinel
    init (−2^60, below any possible dot) makes the first pick pure
    argmax-relevance without a special case. Property tests: a numpy
    replay; the rank-1 item IS the q48-style top-1 by dot; and the
    diversity guarantee — every selected item's sim to EARLIER picks
    stays below what a pure top-k would have admitted for at least
    one rank (redundancy strictly reduced)."""
    emb = load(spark, sf_dir, "embeddings")
    return (
        emb.withColumn("__g", F.lit(0))
        .groupBy("__g")
        .applyInPandas(
            lambda pdf: _mmr_kernel(pdf.drop(columns="__g")),
            schema="rank long, vec_id long, rel long, max_sim_prev long",
        )
    )


@query(
    "q442_embedding_drift",
    oracle="""
    WITH q AS (
      SELECT vec_id, label,
             CASE WHEN vec_id < 250 THEN 'old' ELSE 'new' END AS cohort,
             k,
             CAST(floor(CAST(embedding[k] AS DOUBLE) * 4096 + 0.5) AS BIGINT)
               AS qv
      FROM embeddings, (SELECT UNNEST(range(1, 65)) AS k)
    ),
    cent AS (
      SELECT label, cohort, k,
             CAST(SUM(qv) AS BIGINT) AS s,
             CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n
      FROM q GROUP BY label, cohort, k
    ),
    -- FULL join (round 9, the densify class): a label present in only
    -- ONE cohort is the loudest drift signal (a class vanished or
    -- appeared), not a row to drop; its metrics are NULL (undefined
    -- against an absent centroid) and drifted is TRUE
    wide AS (
      SELECT COALESCE(o.label, n.label) AS label,
             o.s AS sa, n.s AS sb, o.n AS n_old, n.n AS n_new
      FROM (SELECT * FROM cent WHERE cohort = 'old') o
      FULL JOIN (SELECT * FROM cent WHERE cohort = 'new') n
        ON n.label = o.label AND n.k = o.k
    )
    -- shift terms are the q402 overflow class raised to n^4 (sa*n is
    -- ~4096*n^2 per dim BEFORE squaring): 128-bit accumulators, the
    -- OUTPUT cast to BIGINT (driver hasher rejects DECIMAL, r10)
    SELECT label,
           COALESCE(MAX(n_old), 0) AS n_old,
           COALESCE(MAX(n_new), 0) AS n_new,
           CAST(SUM(CAST(sa AS HUGEINT) * sb) AS DOUBLE)
             / (sqrt(CAST(SUM(CAST(sa AS HUGEINT) * sa) AS DOUBLE))
                * sqrt(CAST(SUM(CAST(sb AS HUGEINT) * sb) AS DOUBLE)))
             AS cos_centroid,
           CAST(SUM((CAST(sa AS HUGEINT) * n_new - CAST(sb AS HUGEINT) * n_old)
                    * (CAST(sa AS HUGEINT) * n_new - CAST(sb AS HUGEINT) * n_old))
                AS BIGINT) AS shift_num,
           CAST(SUM((CAST(sa AS HUGEINT) * n_new - CAST(sb AS HUGEINT) * n_old)
                    * (CAST(sa AS HUGEINT) * n_new - CAST(sb AS HUGEINT) * n_old))
                AS DOUBLE)
             / (CAST(MAX(n_old) AS DOUBLE) * MAX(n_old)
                * MAX(n_new) * MAX(n_new)) AS l2_shift_sq,
           COALESCE(CAST(SUM(CAST(sa AS HUGEINT) * sb) AS DOUBLE)
             / (sqrt(CAST(SUM(CAST(sa AS HUGEINT) * sa) AS DOUBLE))
                * sqrt(CAST(SUM(CAST(sb AS HUGEINT) * sb) AS DOUBLE))) < 0.95,
             TRUE) AS drifted
    FROM wide GROUP BY label
    """,
)
def q442_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING-DISTRIBUTION DRIFT between two ingestion cohorts (old =
    vec_id < 250, new = the rest), per label — the ML-ops check the
    scalar drift family (q168 TVD, q215 EMD, q218 KS) cannot do,
    because an embedding space drifts DIRECTIONALLY: per label, the
    cosine between the two cohorts' centroid vectors and the squared
    L2 shift between the cohort means. Parity design: coordinates
    quantize once to 12-bit fixed point (4096 — coarser than q46's
    2^24 so the SUM-of-products Σ(sa·n − sb·n)² stays inside int64
    even with count cross-multipliers), centroids are never divided
    into existence — cosine is SCALE-INVARIANT so cos(Σa, Σb) ==
    cos(mean_a, mean_b) exactly (no division anywhere before the one
    final float expression with the two exempt sqrts), and the mean
    shift clears denominators by cross-multiplying counts (q406's
    moment algebra). One explode over 64 dims, one grouped integer
    sum — at 100 TB the per-(label, cohort, dim) partial sums are the
    only shuffle, 64·cohorts·labels rows of state. Declared support
    (round 9): labels observed in EITHER cohort — a one-sided label
    (class vanished or appeared) reports its counts with NULL
    cos/shift (undefined against an absent centroid) and drifted=TRUE,
    never a dropped row. Property tests:
    numpy replay of both metrics; cos(x, x) == 1 on a self-compared
    cohort; and the shift metric is zero iff the centroids coincide."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        "label",
        F.when(F.col("vec_id") < 250, "old").otherwise("new").alias("cohort"),
        F.posexplode("embedding").alias("k0", "x"),
    ).select(
        "vec_id",
        "label",
        "cohort",
        (F.col("k0") + 1).alias("k"),
        F.floor(F.col("x").cast("double") * 4096 + 0.5).cast("long").alias("qv"),
    )
    cent = q.groupBy("label", "cohort", "k").agg(
        F.sum("qv").cast("long").alias("s"),
        F.countDistinct("vec_id").cast("long").alias("n"),
    )
    old = cent.filter(F.col("cohort") == "old").select(
        "label", "k", F.col("s").alias("sa"), F.col("n").alias("n_old")
    )
    new = cent.filter(F.col("cohort") == "new").select(
        "label", "k", F.col("s").alias("sb"), F.col("n").alias("n_new")
    )
    # FULL outer (round 9, the q215/q158/q214/q219 densify class): a
    # label present in only one cohort is the loudest drift signal — a
    # class vanished from, or appeared in, the new data. The one-sided
    # label's rows carry NULL on the absent side, so SUM products go
    # NULL and cos/shift surface as NULL (undefined vs an absent
    # centroid) with drifted forced TRUE — never a dropped row.
    wide = old.join(new, ["label", "k"], "full")
    # shift terms are the q402 overflow class raised to n^4 (sa*n is
    # ~4096*n^2 per dim BEFORE squaring, and the cos Gram sums are
    # ~2^30*n^2): every accumulator runs in DECIMAL(38,0) — exact
    # integers, headroom to ~1e8 vectors per label-cohort, and under
    # ANSI a genuine overflow still throws rather than wraps
    sa_d = F.col("sa").cast("decimal(38,0)")
    sb_d = F.col("sb").cast("decimal(38,0)")
    diff = sa_d * F.col("n_new") - sb_d * F.col("n_old")
    cos = F.sum(sa_d * F.col("sb")).cast("double") / (
        F.sqrt(F.sum(sa_d * F.col("sa")).cast("double"))
        * F.sqrt(F.sum(sb_d * F.col("sb")).cast("double"))
    )
    return wide.groupBy("label").agg(
        F.coalesce(F.max("n_old"), F.lit(0)).cast("long").alias("n_old"),
        F.coalesce(F.max("n_new"), F.lit(0)).cast("long").alias("n_new"),
        cos.alias("cos_centroid"),
        # accumulator stays DECIMAL(38,0); OUTPUT casts to BIGINT (the
        # driver hasher rejects DECIMAL outputs, r10 — shift_num fits
        # int64 at driver SFs, ANSI throws past the bound)
        F.sum(diff * diff).cast("bigint").alias("shift_num"),
        (
            F.sum(diff * diff).cast("double")
            / (
                F.max("n_old").cast("double")
                * F.max("n_old")
                * F.max("n_new")
                * F.max("n_new")
            )
        ).alias("l2_shift_sq"),
        F.coalesce(cos < 0.95, F.lit(True)).alias("drifted"),
    )


_KC_Q = 16777216  # 24-bit fixed point, the q46/q433 exact-dot scale
_KC_K = 8


@query(
    "q470_kcenter_coreset",
    oracle=f"""
    WITH RECURSIVE qe AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {_KC_Q} + 0.5) AS BIGINT))
               AS q
      FROM embeddings
    ),
    d0 AS MATERIALIZED (
      SELECT e.vec_id,
             (SELECT CAST(SUM((e.q[k] - s.q[k]) * (e.q[k] - s.q[k]))
                          AS BIGINT)
              FROM range(1, 65) t(k)) AS mind
      FROM qe e, (SELECT q FROM qe WHERE vec_id = 0) s
      WHERE e.vec_id <> 0
    ),
    dists AS MATERIALIZED (
      SELECT a.vec_id AS ai, b.vec_id AS bi,
             (SELECT CAST(SUM((a.q[k] - b.q[k]) * (a.q[k] - b.q[k]))
                          AS BIGINT)
              FROM range(1, 65) t(k)) AS d
      FROM qe a JOIN qe b
        ON a.vec_id <> b.vec_id AND a.vec_id <> 0 AND b.vec_id <> 0
    ),
    kc(iter, vec_id, mind) AS (
      SELECT CAST(0 AS BIGINT), vec_id, mind FROM d0
      UNION ALL
      SELECT t.iter + 1, t.vec_id, LEAST(t.mind, s.d)
      FROM (
        SELECT r.iter, r.vec_id, r.mind,
               FIRST_VALUE(r.vec_id) OVER (ORDER BY r.mind DESC, r.vec_id)
                 AS wid
        FROM kc r
      ) t JOIN dists s ON s.ai = t.vec_id AND s.bi = t.wid
      WHERE t.vec_id <> t.wid AND t.iter < {_KC_K - 1}
    )
    SELECT CAST(iter + 1 AS BIGINT) AS rank, vec_id, mind AS dist2
    FROM (
      SELECT iter, vec_id, mind,
             ROW_NUMBER() OVER (PARTITION BY iter
                                ORDER BY mind DESC, vec_id) AS rn
      FROM kc
    ) WHERE rn = 1
    """,
)
def q470_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-CENTER CORESET SELECTION (Gonzalez 1985 farthest-first
    traversal) — the diversity sampler training-data curation uses to
    pick a maximally-spread subset of an embedding space (coresets for
    active learning / dataset distillation; the greedy is the
    textbook 2-approximation to the k-center optimum). Seeded at
    vec_id 0, each of the 8 steps promotes the candidate FARTHEST
    from the selected set (argmax of min-distance, vec_id tiebreak)
    and folds the winner's distances into every survivor's running
    min. All distances are exact int64 L2² on the q46/q433 24-bit
    fixed-point grid — the greedy chain is pure integer arithmetic,
    nothing float-ordered. The Spark side runs the SCALE-SHAPED form:
    per-candidate state (one bigint) updates via a broadcast of the
    single winner row, one linear pass per sweep, K scalar-bounded
    collects (the winner's 64 ints — the q63-codebook-style bounded
    probe), K shallow selects over one checkpointed base (per-sweep
    checkpoints measured 2x slower); never a pairwise matrix. The
    oracle replays the identical chain as a recursive CTE over the
    MATERIALIZED pairwise table (per-row min-state recursion — q433's
    pattern with argmax-of-min instead of argmax-of-difference).
    Output is the selection order with each pick's distance-to-set:
    the non-increasing covering-radius sequence, which the tests
    assert (plus a full Python replay and the 2-approximation
    sanity: r_K ≤ 2·opt is structural, monotonicity is the checkable
    half)."""
    emb = load(spark, sf_dir, "embeddings")
    add = lambda acc, v: acc + v  # noqa: E731
    qe = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * _KC_Q + 0.5).cast("long"),
        ).alias("q"),
    )
    seed = qe.where(F.col("vec_id") == 0).select(F.col("q").alias("sq"))
    state = (
        qe.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(seed))
        .select(
            "vec_id",
            "q",
            F.aggregate(
                F.zip_with("q", "sq", lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                add,
            ).alias("mind"),
        )
        .localCheckpoint()
    )
    picks = []
    for i in range(1, _KC_K + 1):
        w = state.orderBy(F.desc("mind"), "vec_id").limit(1).collect()[0]
        picks.append((i, w["vec_id"], w["mind"]))
        wq = F.array([F.lit(int(v)).cast("long") for v in w["q"]])
        # no per-sweep checkpoint: the lineage is K shallow project/filter
        # levels over the one checkpointed base — rematerializing it per
        # probe is cheaper than K eager materializations
        state = state.where(F.col("vec_id") != w["vec_id"]).select(
            "vec_id",
            "q",
            F.least(
                F.col("mind"),
                F.aggregate(
                    F.zip_with("q", wq, lambda a, b: (a - b) * (a - b)),
                    F.lit(0).cast("long"),
                    add,
                ),
            ).alias("mind"),
        )
    return spark.createDataFrame(picks, "rank long, vec_id long, dist2 long")


_LP_K = 5       # neighbors per node
_LP_T = 5       # propagation sweeps
_LP_SEED = 100  # vec_id < 100 keep their true label


def _lp_knn_pairs(qe):
    """Exact-kNN edge list (src, dst) over quantized vectors ``qe``
    (columns: vec_id, q) — q482's one quadratic stage, factored out so
    the plan audit can inspect it (the query checkpoints it eagerly, so
    the BNLJ never appears in the returned frame's plan).

    The stream side of the BNLJ must be RE-SPREAD before the fan-out:
    the non-equi self-join plans as BroadcastNestedLoopJoin whose
    parallelism is the stream side's partition count, and a small
    parquet scan arrives in 1-2 partitions — at sf1 that serialized
    2.5e9 pair-dots onto two cores (round-7 soak caught it live). Same
    rule as q154's explicit re-spread before its fan-out join."""
    add = lambda acc, v: acc + v  # noqa: E731
    a = qe.select(F.col("vec_id").alias("src"), F.col("q").alias("qa")).repartition(
        32, "src"
    )
    b = qe.select(F.col("vec_id").alias("dst"), F.col("q").alias("qb"))
    dots = a.join(b, F.col("src") != F.col("dst")).select(
        "src",
        "dst",
        F.aggregate(
            F.zip_with("qa", "qb", lambda x, y: x * y),
            F.lit(0).cast("long"),
            add,
        ).alias("d"),
    )
    return (
        dots.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("src").orderBy(F.desc("d"), "dst")
            ),
        )
        .where(F.col("rn") <= _LP_K)
        .select("src", "dst")
    )


def _lp_oracle() -> str:
    parts = [
        f"""
    WITH qe AS MATERIALIZED (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {_KC_Q} + 0.5) AS BIGINT))
               AS q
      FROM embeddings
    ),
    dots AS MATERIALIZED (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             (SELECT CAST(SUM(a.q[k] * b.q[k]) AS BIGINT)
              FROM range(1, 65) t(k)) AS d
      FROM qe a JOIN qe b ON a.vec_id <> b.vec_id
    ),
    knn AS MATERIALIZED (
      SELECT src, dst FROM (
        SELECT src, dst,
               ROW_NUMBER() OVER (PARTITION BY src
                                  ORDER BY d DESC, dst) AS rn
        FROM dots
      ) WHERE rn <= {_LP_K}
    ),
    l0 AS MATERIALIZED (
      SELECT vec_id, label AS true_label,
             vec_id < {_LP_SEED} AS is_seed,
             CASE WHEN vec_id < {_LP_SEED} THEN CAST(label AS BIGINT)
                  ELSE -1 END AS cur
      FROM qe
    )"""
    ]
    for t in range(1, _LP_T + 1):
        parts.append(
            f""",
    l{t} AS MATERIALIZED (
      SELECT p.vec_id, p.true_label, p.is_seed,
             CASE WHEN p.is_seed THEN p.cur
                  ELSE COALESCE(w.win, p.cur) END AS cur
      FROM l{t - 1} p
      LEFT JOIN (
        SELECT src, win FROM (
          SELECT k.src, n.cur AS win,
                 ROW_NUMBER() OVER (PARTITION BY k.src
                                    ORDER BY COUNT(*) DESC, n.cur) AS rn
          FROM knn k JOIN l{t - 1} n ON n.vec_id = k.dst
          WHERE n.cur <> -1
          GROUP BY k.src, n.cur
        ) WHERE rn = 1
      ) w ON w.src = p.vec_id
    )"""
        )
    parts.append(
        f"""
    SELECT true_label,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN cur <> -1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_labeled,
           CAST(SUM(CASE WHEN cur = true_label THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           CAST(SUM(CASE WHEN cur = true_label THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS accuracy_ppm
    FROM l{_LP_T} WHERE NOT is_seed
    GROUP BY true_label"""
    )
    return "".join(parts)


@query("q482_label_propagation", oracle=_lp_oracle())
def q482_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMI-SUPERVISED LABEL PROPAGATION (Zhu & Ghahramani 2002) over the
    exact kNN graph — the transductive classifier a labeling pipeline
    runs when 20%% of the corpus has trusted labels and the rest
    doesn't: seeds (vec_id < 100) hold their label, every other node
    repeatedly takes the MAJORITY label of its 5 nearest neighbors
    (24-bit exact integer dots, q433's grid; vote ties break to the
    smallest label, unlabeled neighbors abstain, isolated nodes stay
    unlabeled), and after 5 sweeps per-class transductive accuracy on
    the non-seeds ships in floor ppm. Everything that could drift is
    integer: dots, votes, tie-breaks — so the unrolled-CTE oracle
    replays all sweeps bit-for-bit (this module's q410/q411
    contraction machinery, upgraded from min-label to argmax-vote).
    DISTINCT from q411's components (which answer 'connected?') —
    this answers 'which class', the actual curation need. The kNN
    build is the one quadratic stage and reuses the tiled-GEMM
    contract (q46); per-sweep state is one bigint per node and the
    vote is a (node, label)-keyed count — node-linear at any scale
    once candidates come from q47/q63 ANN instead of brute force (the
    documented 100 TB substitution). Calibration, honestly reported:
    this fixture's label-geometry signal (~2%% same-label cosine
    lift against a ~12%% pairwise-cosine noise floor) is TOO WEAK for
    5-NN majority — transductive accuracy lands at chance (~10%%),
    and the query's job is to say so before anyone trusts
    propagated labels. The tests pin that reading two ways: a pure-
    Python replay reproduces every per-class count bit-for-bit, and
    the SAME propagation rules on a constructed two-cluster geometry
    reach 100%% — the instrument works; this corpus just doesn't
    separate."""
    emb = load(spark, sf_dir, "embeddings")
    qe = emb.select(
        "vec_id",
        F.col("label").cast("long").alias("true_label"),
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * _KC_Q + 0.5).cast("long"),
        ).alias("q"),
    )
    knn = _lp_knn_pairs(qe).localCheckpoint(eager=True)
    labels = qe.select(
        "vec_id",
        "true_label",
        (F.col("vec_id") < _LP_SEED).alias("is_seed"),
        F.when(F.col("vec_id") < _LP_SEED, F.col("true_label"))
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("cur"),
    ).localCheckpoint(eager=True)
    for _ in range(_LP_T):
        votes = (
            knn.join(
                labels.select(F.col("vec_id").alias("dst"), F.col("cur").alias("nl")),
                "dst",
            )
            .where(F.col("nl") != -1)
            .groupBy("src", "nl")
            .agg(F.count(F.lit(1)).alias("v"))
        )
        win = (
            votes.withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("src").orderBy(F.desc("v"), "nl")
                ),
            )
            .where(F.col("rn") == 1)
            .select(F.col("src").alias("vec_id"), F.col("nl").alias("win"))
        )
        labels = (
            labels.join(win, "vec_id", "left")
            .select(
                "vec_id",
                "true_label",
                "is_seed",
                F.when(F.col("is_seed"), F.col("cur"))
                .otherwise(F.coalesce("win", "cur"))
                .cast("long")
                .alias("cur"),
            )
            .localCheckpoint(eager=True)
        )
    return (
        labels.where(~F.col("is_seed"))
        .groupBy("true_label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("cur") != -1, 1).otherwise(0))
            .cast("long")
            .alias("n_labeled"),
            F.sum(F.when(F.col("cur") == F.col("true_label"), 1).otherwise(0))
            .cast("long")
            .alias("n_correct"),
        )
        .select(
            "true_label",
            "n",
            "n_labeled",
            "n_correct",
            F.expr("n_correct * 1000000 div n").cast("long").alias("accuracy_ppm"),
        )
    )
