"""Similarity-search query specs over `embeddings` (ANN baseline + LSH scale
path)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dsum_sql, lit_double, qround_sql
from ..functions.rng import rng_uniform_sql
from ..operators import similarity as SIM
from ..sources.readers import load_table
from .registry import register
from .shared import session_view, view_persist

_LONG = """
long AS (
  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, (SELECT unnest(range(1, 65)) AS i)
)"""


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


def _bands_ckpt_key(sf_dir: str) -> str:
    """Content-addressed checkpoint key for the banded signatures: raw
    embedding-parquet bytes + the similarity module source + the signature
    hyperparameters. Content (not mtime) so a byte-identical testdata
    regeneration still restores; any data or math change rotates the key."""
    from ..ml import artifacts as AR

    import os as _os

    fp = AR.source_fingerprint(
        SIM.__name__,
        extra=f"planes={SIM.N_PLANES} bands={SIM.N_BANDS} cap={SIM.BUCKET_CAP}",
    )
    return AR.input_data_fingerprint(
        [_os.path.join(sf_dir, "embeddings.parquet")], fp
    )


@session_view
def _bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted banded signatures, shared by the three LSH consumers in a
    session (near-pairs, band-stats, embedding-dedup) — the 32-projection
    decimal signature pass is the dominant cost and is identical for all.

    DISK-CHECKPOINTED like a real ANN index (the FAISS deployment shape —
    an index is a build-time artifact of the corpus, rebuilt only when the
    data or the signature math changes): the (vec_id, band, bucket)
    assignment is written once to the artifact store and restored on later
    sessions with one cheap equi-join to re-attach the embedding vectors —
    the r7 bench paid the full 32-projection decimal pass (~14 s at sf0.1)
    in EVERY prepare; a restore is parquet-scan + join (~2 s)."""
    from ..ml import artifacts as AR

    emb = _emb(spark, sf_dir)
    key = _bands_ckpt_key(sf_dir)
    stored = AR.restore_dataframe(spark, "lshbands", key)
    if stored is None:
        stored = AR.checkpoint_dataframe(
            SIM.banded_buckets(emb).select("vec_id", "band", "bucket"),
            "lshbands",
            key,
            n_files=4,
        )
    return view_persist(
        stored.join(emb, "vec_id").select("vec_id", "embedding", "band", "bucket")
    )


@session_view
def _near_pairs_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted exact-cosine candidate-pair graph with NO threshold
    (min_cosine=-1.0). The exact cosine column is deterministic, so EVERY
    thresholded consumer (embedding dedup at 0.2, cc clustering at 0.25,
    s_lsh_near_pairs at 0.25) is a pure filter of this one materialization,
    and s_knn_graph — which needs every bucket candidate — reads it
    directly. r15: the memo previously sat at 0.2, so s_knn_graph re-ran
    the whole candidate + verify chain per session (probe 4.7 s) and
    s_lsh_near_pairs re-ran it at 0.25 (3.3 s). Building at -1.0 costs the
    same as at 0.2 (measured 2.1-2.9 s either way at sf0.1 — the decimal
    dot dominates, and the fast-prune margin guarantee is what makes
    filter-after ≡ build-at-threshold), and the frame stays candidate-
    bounded (cap per (band, bucket)): 37 k rows at sf0.1."""
    return view_persist(
        SIM.lsh_near_pairs(_emb(spark, sf_dir), min_cosine=-1.0, bands=_bands(spark, sf_dir))
    )


def _near_pairs_02(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _near_pairs_all(spark, sf_dir).filter(F.col("cosine") >= 0.2)


_BF_SQL = f"""
    WITH {_LONG},
    nm AS (SELECT vec_id, {dsum_sql('x * x')} AS sq FROM long GROUP BY 1),
    dots AS (
      SELECT q.vec_id AS qid, t.vec_id AS nid, {dsum_sql('q.x * t.x')} AS dot
      FROM long q JOIN long t ON q.i = t.i AND q.vec_id < 100 AND q.vec_id != t.vec_id
      GROUP BY 1, 2
    ),
    cos AS (
      SELECT qid, nid, dot / sqrt(qn.sq * tn.sq) AS cosine
      FROM dots JOIN nm qn ON qid = qn.vec_id JOIN nm tn ON nid = tn.vec_id
    ),
    rk AS (
      SELECT qid, nid, cosine,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS INTEGER) AS rk
      FROM cos
    )
    SELECT qid, nid, cosine, rk FROM rk WHERE rk <= 5
    """


@register(
    "s_ann_bruteforce_topk",
    oracle=f"""
    WITH {_LONG},
    nm AS (SELECT vec_id, {dsum_sql('x * x')} AS sq FROM long GROUP BY 1),
    dots AS (
      SELECT q.vec_id AS qid, t.vec_id AS nid, {dsum_sql('q.x * t.x')} AS dot
      FROM long q JOIN long t ON q.i = t.i AND q.vec_id < 100 AND q.vec_id != t.vec_id
      GROUP BY 1, 2
    ),
    cos AS (
      SELECT qid, nid, dot / sqrt(qn.sq * tn.sq) AS cosine
      FROM dots JOIN nm qn ON qid = qn.vec_id JOIN nm tn ON nid = tn.vec_id
    ),
    rk AS (
      SELECT qid, nid, cosine,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS INTEGER) AS rk
      FROM cos
    )
    SELECT qid, nid, cosine, rk FROM rk WHERE rk <= 5
    """,
    tags=("SIM-bruteforce", "J5", "O3"),
    doc="Exact cosine top-5 for the first 100 vectors (broadcast query side).",
)
def s_ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _topk(spark, sf_dir, "bf")


@register(
    "s_hard_negatives",
    oracle=f"""
    WITH {_LONG},
    lab AS (SELECT vec_id, label FROM embeddings),
    nm AS (SELECT vec_id, {dsum_sql('x * x')} AS sq FROM long GROUP BY 1),
    dots AS (
      SELECT q.vec_id AS qid, t.vec_id AS nid, {dsum_sql('q.x * t.x')} AS dot
      FROM long q JOIN long t ON q.i = t.i AND q.vec_id < 100 AND q.vec_id != t.vec_id
      GROUP BY 1, 2
    ),
    cos AS (
      SELECT qid, ql.label AS q_label, nid, nl.label AS n_label,
             dot / sqrt(qn.sq * tn.sq) AS cosine
      FROM dots JOIN nm qn ON qid = qn.vec_id JOIN nm tn ON nid = tn.vec_id
                JOIN lab ql ON qid = ql.vec_id JOIN lab nl ON nid = nl.vec_id
      WHERE ql.label != nl.label
    ),
    rk AS (
      SELECT qid, q_label, nid, n_label, cosine,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS INTEGER) AS rk
      FROM cos
    )
    SELECT qid, q_label, nid, n_label, cosine, rk FROM rk WHERE rk <= 3
    """,
    tags=("SIM-bruteforce", "J5", "O3", "M24"),
    doc="Contrastive hard-negative mining: per query vector, the top-3 "
    "highest-cosine corpus vectors with a DIFFERENT label — the gradient-"
    "bearing pairs an embedding fine-tune trains on. Broadcast query side, "
    "label-disagreement predicate inside the join condition (mismatched "
    "pairs never materialize), FP pre-filter + decimal-exact re-rank, "
    "per-query windows only.",
)
def s_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.hard_negatives_topk(_emb(spark, sf_dir), n_queries=100, k=3)


_W = f"(2.0 * {rng_uniform_sql('i', 'k', salt=SIM.PLANE_SALT)} - 1.0)"

# banded LSH candidate CTEs: 4 bands × 8 planes, per-bucket cap, distinct pairs
_BANDED = f"""
    grid AS (
      SELECT i, k, {_W} AS w
      FROM (SELECT unnest(range(1, 65)) AS i), (SELECT unnest(range(0, {SIM.N_PLANES})) AS k)
    ),
    proj AS (
      SELECT vec_id, k, {dsum_sql('x * w')} AS proj
      FROM long JOIN grid USING (i) GROUP BY 1, 2
    ),
    bands AS (
      SELECT vec_id, k // {SIM.PLANES_PER_BAND} AS band,
             string_agg(CASE WHEN proj >= 0 THEN '1' ELSE '0' END, '' ORDER BY k) AS bucket
      FROM proj GROUP BY vec_id, k // {SIM.PLANES_PER_BAND}
    ),
    capped AS (
      SELECT band, bucket, vec_id FROM (
        SELECT *, row_number() OVER (PARTITION BY band, bucket ORDER BY vec_id) AS _rk
        FROM bands
      ) WHERE _rk <= {SIM.BUCKET_CAP}
    ),
    cands AS (
      SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
      FROM capped a JOIN capped b
        ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    )"""


@register(
    "s_lsh_near_pairs",
    oracle=f"""
    WITH {_LONG},{_BANDED},
    ids AS (SELECT d1 AS vec_id FROM cands UNION SELECT d2 FROM cands),
    pl AS (SELECT * FROM long WHERE vec_id IN (SELECT vec_id FROM ids)),
    nm2 AS (SELECT vec_id, {dsum_sql('x * x')} AS sq FROM pl GROUP BY 1),
    dots AS (
      SELECT c.d1, c.d2, {dsum_sql('a.x * b.x')} AS dot
      FROM cands c JOIN pl a ON a.vec_id = c.d1 JOIN pl b ON b.vec_id = c.d2 AND b.i = a.i
      GROUP BY 1, 2
    )
    SELECT d1, d2, dot / sqrt(n1.sq * n2.sq) AS cosine
    FROM dots JOIN nm2 n1 ON d1 = n1.vec_id JOIN nm2 n2 ON d2 = n2.vec_id
    WHERE dot / sqrt(n1.sq * n2.sq) >= 0.25
    """,
    tags=("SIM-lsh", "J5"),
    doc="Banded random-hyperplane LSH (4 bands × 8 planes, per-bucket cap) → "
    "exact cosine verify ≥ 0.25. Banding keeps recall up and bucket "
    "populations bounded as the corpus grows.",
)
def s_lsh_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r15: pure filter of the threshold-free session pair graph — identical
    # rows (fast-prune margin guarantee + deterministic cosine column).
    return _near_pairs_all(spark, sf_dir).filter(F.col("cosine") >= 0.25)


@register(
    "s_lsh_band_stats",
    oracle=f"""
    WITH {_LONG},{_BANDED},
    sizes AS (SELECT band, bucket, count(*) AS c FROM capped GROUP BY 1, 2)
    SELECT CAST(band AS BIGINT) AS band, count(*) AS n_buckets,
           CAST(max(c) AS BIGINT) AS max_bucket,
           CAST(sum(c * (c - 1) / 2) AS BIGINT) AS n_cand_pairs
    FROM sizes GROUP BY band
    """,
    tags=("SIM-lsh",),
    doc="LSH band diagnostics: bucket counts, max capped population, and the "
    "candidate-pair volume per band — the no-silent-caps visibility query.",
)
def s_lsh_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    return SIM.lsh_band_stats(_emb(spark, sf_dir), bands=_bands(spark, sf_dir)).withColumn(
        "band", F.col("band").cast("bigint")
    )


def _ivf_cells_ctes() -> str:
    """The coarse-cell CTE block shared by the IVF and IVF-PQ oracles
    (mirrors :func:`~..operators.similarity.ivf_cells`): seeded-subset
    centroids → decimal-exact assignment → corpus (nearest cell) and
    probes (4 nearest cells of the first 100 ids). Expects ``long`` from
    ``_LONG`` in scope."""
    from ..functions.rng import rng_draw_sql

    draw = rng_draw_sql("vec_id", salt=SIM.IVF_SALT)
    return f"""
    cents AS (
      SELECT vec_id AS cvid, CAST(row_number() OVER (ORDER BY {draw}, vec_id) AS INTEGER) AS cell
      FROM embeddings ORDER BY {draw}, vec_id LIMIT 16
    ),
    clong AS (SELECT cell, i, x AS c FROM cents JOIN long ON long.vec_id = cvid),
    adist AS (
      SELECT l.vec_id, cl.cell, {dsum_sql('(l.x - cl.c) * (l.x - cl.c)')} AS d2
      FROM long l JOIN clong cl USING (i) GROUP BY 1, 2
    ),
    crk AS (
      SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS crk
      FROM adist
    ),
    corpus AS (SELECT vec_id, cell FROM crk WHERE crk = 1),
    probes AS (SELECT vec_id AS qid, cell FROM crk WHERE crk <= 4 AND vec_id < 100)"""


def _ivf_oracle() -> str:
    return f"""
    WITH {_LONG},
    {_ivf_cells_ctes()},
    cands AS (
      SELECT p.qid, c.vec_id AS nid FROM probes p JOIN corpus c USING (cell)
      WHERE c.vec_id != p.qid
    ),
    nm AS (SELECT vec_id, {dsum_sql('x * x')} AS sq FROM long GROUP BY 1),
    dots AS (
      SELECT cd.qid, cd.nid, {dsum_sql('q.x * t.x')} AS dot
      FROM cands cd
      JOIN long q ON q.vec_id = cd.qid
      JOIN long t ON t.vec_id = cd.nid AND t.i = q.i
      GROUP BY 1, 2
    ),
    cos AS (
      SELECT qid, nid, dot / sqrt(qn.sq * tn.sq) AS cosine
      FROM dots JOIN nm qn ON qid = qn.vec_id JOIN nm tn ON nid = tn.vec_id
    ),
    rk AS (
      SELECT qid, nid, cosine,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS INTEGER) AS rk
      FROM cos
    )
    SELECT qid, nid, (floor(cosine * 1000000000.0 + 0.5) / 1000000000.0) AS cosine, rk FROM rk WHERE rk <= 5
    """


@register(
    "s_ivf_topk",
    oracle=_ivf_oracle(),
    tags=("SIM-ivf", "J5", "O3"),
    doc="IVF ANN: deterministic seeded-subset coarse cells + n_probe scan — "
    "the billion-row scale path where even LSH bucket joins get too wide. "
    "Cell assignment is decimal-exact, so the full approximate plan "
    "(probing included) is oracle-mirrored; recall vs brute force is pinned "
    "in tests/test_ann_recall.py.",
)
def s_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.exact import qround

    return _topk(spark, sf_dir, "ivf").select(
        "qid", "nid", qround("cosine", 9).alias("cosine"), "rk"
    )


@register(
    "d_embedding_dedup",
    oracle=f"""
    WITH {_LONG},{_BANDED},
    nm2 AS (SELECT vec_id, {dsum_sql('x * x')} AS sq FROM long GROUP BY 1),
    dots AS (
      SELECT c.d1, c.d2, {dsum_sql('a.x * b.x')} AS dot
      FROM cands c JOIN long a ON a.vec_id = c.d1 JOIN long b ON b.vec_id = c.d2 AND b.i = a.i
      GROUP BY 1, 2
    ),
    dups AS (
      SELECT DISTINCT d2 AS vec_id
      FROM dots JOIN nm2 n1 ON d1 = n1.vec_id JOIN nm2 n2 ON d2 = n2.vec_id
      WHERE dot / sqrt(n1.sq * n2.sq) >= 0.2
    )
    SELECT e.label, count(*) AS n_vecs,
           CAST(sum(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
    FROM embeddings e LEFT JOIN dups d ON e.vec_id = d.vec_id
    GROUP BY e.label
    """,
    tags=("SIM-lsh", "DEDUP-embedding", "P2"),
    doc="Embedding-cosine near-dup dedup: LSH candidates → exact cosine ≥ τ → "
    "keep-lowest-id star collapse, accounted per label.",
)
def d_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    emb = _emb(spark, sf_dir)
    pairs = _near_pairs_02(spark, sf_dir)
    dups = pairs.select(F.col("d2").alias("vec_id")).distinct()
    flagged = emb.join(dups.withColumn("is_dup", F.lit(1)), "vec_id", "left")
    return flagged.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.when(F.col("is_dup").isNull(), 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.sum(F.when(F.col("is_dup").isNotNull(), 1).otherwise(0)).cast("bigint").alias("n_dropped"),
    )


@register(
    "d_cc_clusters",
    oracle=f"""
    WITH RECURSIVE {_LONG},{_BANDED},
    ids AS (SELECT d1 AS vec_id FROM cands UNION SELECT d2 FROM cands),
    pl AS (SELECT * FROM long WHERE vec_id IN (SELECT vec_id FROM ids)),
    nm2 AS (SELECT vec_id, {dsum_sql('x * x')} AS sq FROM pl GROUP BY 1),
    dots AS (
      SELECT c.d1, c.d2, {dsum_sql('a.x * b.x')} AS dot
      FROM cands c JOIN pl a ON a.vec_id = c.d1 JOIN pl b ON b.vec_id = c.d2 AND b.i = a.i
      GROUP BY 1, 2
    ),
    near AS (
      SELECT d1, d2
      FROM dots JOIN nm2 n1 ON d1 = n1.vec_id JOIN nm2 n2 ON d2 = n2.vec_id
      WHERE dot / sqrt(n1.sq * n2.sq) >= 0.25
    ),
    edges AS (SELECT d1 AS a, d2 AS b FROM near UNION ALL SELECT d2 AS a, d1 AS b FROM near),
    verts AS (SELECT DISTINCT a AS v FROM edges),
    reach(v, lab) AS (
      SELECT v, v FROM verts
      UNION
      SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.v
    )
    SELECT CAST(v AS BIGINT) AS vec_id, CAST(min(lab) AS BIGINT) AS cluster
    FROM reach GROUP BY v
    """,
    tags=("DEDUP-embedding", "DEDUP-cc", "J5", "U5"),
    doc="Dedup cluster assignment: connected components over the LSH "
    "near-dup graph via BSP min-label propagation (one co-partitioned "
    "join + combinable min-agg per round, rounds = propagation radius, "
    "driver sees only a changed-count scalar). Every vertex gets the min "
    "vec_id reachable from it — the cluster representative a corpus dedup "
    "keeps. Oracle = DuckDB recursive CTE over the identical (SQL-mirrored) "
    "near-pair graph.",
)
def d_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import connected_components

    pairs = _near_pairs_02(spark, sf_dir).filter(F.col("cosine") >= 0.25)
    cc = connected_components(pairs)
    return cc.select(
        F.col("vertex").cast("bigint").alias("vec_id"),
        F.col("cluster").cast("bigint").alias("cluster"),
    )


_SQ8_SQL = """
    WITH base AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) AS mx
      FROM embeddings
    ),
    qlong AS (
      SELECT vec_id, i,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 127.0 / mx + 0.5) AS BIGINT) AS qx
      FROM base, (SELECT unnest(range(1, 65)) AS i)
      WHERE mx > 0
    ),
    nm AS (SELECT vec_id, SUM(qx * qx) AS n8 FROM qlong GROUP BY 1),
    dots AS (
      SELECT q.vec_id AS qid, t.vec_id AS nid, SUM(q.qx * t.qx) AS dot
      FROM qlong q JOIN qlong t ON q.i = t.i AND q.vec_id < 100 AND q.vec_id != t.vec_id
      GROUP BY 1, 2
    ),
    cos AS (
      SELECT qid, nid,
             CAST(dot AS DOUBLE) / sqrt(CAST(qn.n8 AS DOUBLE) * CAST(tn.n8 AS DOUBLE))
               AS cosine_sq8
      FROM dots JOIN nm qn ON qid = qn.vec_id JOIN nm tn ON nid = tn.vec_id
    )
    SELECT qid, nid, cosine_sq8, CAST(rk AS INTEGER) AS rk
    FROM (SELECT qid, nid, cosine_sq8,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY cosine_sq8 DESC, nid ASC) AS rk
          FROM cos)
    WHERE rk <= 5
    """


@register(
    "s_sq8_topk",
    oracle=_SQ8_SQL,
    tags=("SIM-sq8", "J5", "O3"),
    doc="SQ8 scalar-quantized cosine top-5: int8 vectors (4x smaller at "
    "rest/shuffle than float32 — the bandwidth scale mode of the "
    "brute-force baseline) with integer dot-product folds; bit-exact "
    "across engines with no decimal machinery because every sum is an "
    "exact integer and only the final sqrt/divide touch floating point.",
)
def s_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _topk(spark, sf_dir, "sq8")


def _cents_values_sql() -> str:
    """VALUES literal of the FINAL mirror-trained centroids: the Lloyd
    iterations are replayed by an independent numpy mirror
    (operators/similarity.kmeans_mirror — exact integer micro-unit
    arithmetic, so no float reduction order can diverge); DuckDB itself
    recomputes every row's integer-quantized argmin assignment from them."""
    import os

    import duckdb as _dd

    from ..operators.similarity import KMEANS_ITERS, KMEANS_K, kmeans_mirror

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    con = _dd.connect()
    rows = con.execute(
        f"SELECT vec_id, embedding FROM read_parquet('{sf_dir}/embeddings.parquet')"
        " ORDER BY vec_id"
    ).fetchall()
    con.close()
    ids = [r[0] for r in rows]
    X = [r[1] for r in rows]
    cents, _ = kmeans_mirror(ids, X, k=KMEANS_K, iters=KMEANS_ITERS)
    return ", ".join(
        f"({cell}, [" + ", ".join(f"{lit_double(v)}" for v in vec) + "])"
        for cell, vec in cents
    )


def _kmeans_oracle() -> str:
    vals = _cents_values_sql()
    return f"""
    WITH cents(cell, c) AS (VALUES {vals}),
    d AS (
      SELECT vec_id, cell,
             list_sum(list_transform(range(1, len(embedding) + 1),
               i -> CAST(floor((CAST(embedding[i] AS DOUBLE) - c[i])
                               * (CAST(embedding[i] AS DOUBLE) - c[i])
                               * 1000000.0 + 0.5) AS BIGINT))) AS d2i
      FROM embeddings CROSS JOIN cents
    ),
    best AS (
      SELECT vec_id, cell, d2i,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2i, cell) AS rn
      FROM d
    )
    SELECT vec_id, CAST(cell AS INTEGER) AS cluster,
           CAST(d2i AS DOUBLE) / 1000000.0 AS d2
    FROM best WHERE rn = 1
    """


@register(
    "s_kmeans_embed",
    oracle=_kmeans_oracle,
    tags=("SIM-kmeans", "J5", "O4"),
    doc="Distributed Lloyd's k-means over the embedding corpus, bit-stable "
    "across engines: assignment is a pure map stage (argmin over broadcast-"
    "literal centroids with integer-quantized distances), the update one "
    "map-side-combinable (cell, dim) shuffle with k*dim rows to the driver "
    "per round. The oracle mirror replays training in exact integer "
    "arithmetic; DuckDB recomputes the final assignment itself.",
)
def s_kmeans_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.kmeans_lloyd(_emb(spark, sf_dir))


def _pq_sql_literals() -> tuple[str, str]:
    """(codebook VALUES, LUT VALUES) for the PQ-family oracles: codebooks
    and the query lookup table come from the SAME deterministic driver-side
    training the engine uses (identical literals by construction)."""
    import os

    import duckdb as _dd

    from ..operators.similarity import (
        PQ_TRAIN_CAP,
        _pq_lut_rows,
        pq_codebooks,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    con = _dd.connect()
    rows = con.execute(
        f"SELECT vec_id, embedding FROM read_parquet('{sf_dir}/embeddings.parquet')"
        f" ORDER BY vec_id LIMIT {PQ_TRAIN_CAP}"
    ).fetchall()
    q_rows = con.execute(
        f"SELECT vec_id, embedding FROM read_parquet('{sf_dir}/embeddings.parquet')"
        " WHERE vec_id < 100 ORDER BY vec_id"
    ).fetchall()
    con.close()
    books = pq_codebooks([r[0] for r in rows], [r[1] for r in rows])
    cb_vals = ", ".join(
        f"({j}, {code}, [" + ", ".join(f"{lit_double(v)}" for v in c) + "])"
        for j, cents in enumerate(books)
        for code, c in cents
    )
    lut = _pq_lut_rows([r[0] for r in q_rows], [r[1] for r in q_rows], books)
    lut_vals = ", ".join(f"({q}, {s}, {c}, {p})" for q, s, c, p in lut)
    return cb_vals, lut_vals


def _pq_codes_ctes(cb_vals: str) -> str:
    """The PQ encode CTE block shared by the PQ and IVF-PQ oracles: DuckDB
    recomputes every row's per-subspace argmin code from the codebook
    literals, integer-quantized exactly like the engine's map stage."""
    from ..operators.similarity import PQ_SUBDIM

    return f"""
    cb(sub, code, c) AS (VALUES {cb_vals}),
    d AS (
      SELECT e.vec_id, cb.sub, cb.code,
             list_sum(list_transform(range(1, {PQ_SUBDIM} + 1), i ->
               CAST(floor((CAST(e.embedding[cb.sub * {PQ_SUBDIM} + i] AS DOUBLE) - cb.c[i])
                          * (CAST(e.embedding[cb.sub * {PQ_SUBDIM} + i] AS DOUBLE) - cb.c[i])
                          * 1000000.0 + 0.5) AS BIGINT))) AS d2i
      FROM embeddings e CROSS JOIN cb
    ),
    best AS (
      SELECT vec_id, sub, code,
             row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2i, code) AS rn
      FROM d
    ),
    codes AS (SELECT vec_id, sub, code FROM best WHERE rn = 1)"""


def _pq_oracle() -> str:
    """PQ-ADC mirror: see :func:`_pq_sql_literals` — DuckDB recomputes
    every row's per-subspace argmin code and the ADC sum from the same
    trained literals the engine uses."""
    cb_vals, lut_vals = _pq_sql_literals()
    return f"""
    WITH {_pq_codes_ctes(cb_vals)},
    lut(qid, sub, code, pd2i) AS (VALUES {lut_vals}),
    sc AS (
      SELECT l.qid, c.vec_id AS nid, CAST(sum(l.pd2i) AS BIGINT) AS d2i
      FROM codes c JOIN lut l ON l.sub = c.sub AND l.code = c.code
      WHERE l.qid != c.vec_id
      GROUP BY 1, 2
    )
    SELECT qid, nid, CAST(d2i AS DOUBLE) / 1000000.0 AS d2_pq, CAST(rk AS INTEGER) AS rk
    FROM (SELECT qid, nid, d2i,
                 row_number() OVER (PARTITION BY qid ORDER BY d2i, nid) AS rk
          FROM sc)
    WHERE rk <= 5
    """


def _ivfpq_oracle() -> str:
    """IVF-PQ mirror: composes the IVF coarse-cell CTEs with the PQ encode
    CTEs — candidates are (probe, corpus) cell matches, scored by the same
    integer ADC sum over the same trained LUT literals, so the whole
    composite index (probing AND quantization) is hash-verified."""
    cb_vals, lut_vals = _pq_sql_literals()
    return f"""
    WITH {_LONG},
    {_ivf_cells_ctes()},
    {_pq_codes_ctes(cb_vals)},
    lut(qid, sub, code, pd2i) AS (VALUES {lut_vals}),
    sc AS (
      SELECT p.qid, c.vec_id AS nid, CAST(sum(l.pd2i) AS BIGINT) AS d2i
      FROM probes p
      JOIN corpus c USING (cell)
      JOIN codes co ON co.vec_id = c.vec_id
      JOIN lut l ON l.qid = p.qid AND l.sub = co.sub AND l.code = co.code
      WHERE c.vec_id != p.qid
      GROUP BY 1, 2
    )
    SELECT qid, nid, CAST(d2i AS DOUBLE) / 1000000.0 AS d2_pq, CAST(rk AS INTEGER) AS rk
    FROM (SELECT qid, nid, d2i,
                 row_number() OVER (PARTITION BY qid ORDER BY d2i, nid) AS rk
          FROM sc)
    WHERE rk <= 5
    """


@session_view
def _pq_books(spark: SparkSession, sf_dir: str):
    """Session-lifetime PQ codebooks per sf_dir — a PQ index's codebook is a
    build-time artifact every query reuses, so the training collect+fit
    (driver-side integer-exact k-means per subspace) runs once, not per
    registry query."""
    sample = (
        _emb(spark, sf_dir)
        .orderBy("vec_id")
        .limit(SIM.PQ_TRAIN_CAP)
        .select("vec_id", "embedding")
        .collect()
    )
    return SIM.pq_codebooks(
        [r["vec_id"] for r in sample], [list(r["embedding"]) for r in sample]
    )


@session_view
def _topk(spark: SparkSession, sf_dir: str, method: str) -> DataFrame:
    """Session-lifetime per-method ANN top-k frames at the canonical
    evaluation point (n_queries=100, k=5) — the `_scores` memo doctrine
    (queries_ml) applied to the ANN family: the per-method queries
    (s_ann_bruteforce_topk, s_ivf_topk, s_sq8_topk, s_pq_topk,
    s_ivfpq_topk) and the evaluation queries (s_ann_recall_eval,
    s_ann_recall_matrix, s_ndcg_eval, s_matryoshka_recall's full-dim
    anchor) are registry siblings over the SAME five deterministic
    scoring passes; in one session each pass must run once, with its
    build billed to the first toucher, instead of brute-force ×5 and
    IVF ×4 (r15 probe: s_ann_recall_matrix alone was 13–25 s at sf0.1,
    nearly all of it re-running sibling passes). Each frame is exactly
    100×k rows — kilobytes persisted at any corpus scale."""
    emb = _emb(spark, sf_dir)
    if method == "bf":
        df = SIM.cosine_topk(emb, n_queries=100, k=5)
    elif method == "ivf":
        df = SIM.ivf_topk(emb, n_queries=100, k=5)
    elif method == "sq8":
        df = SIM.sq8_topk(emb, n_queries=100, k=5)
    elif method == "pq":
        df = SIM.pq_topk(emb, n_queries=100, k=5, books=_pq_books(spark, sf_dir))
    elif method == "ivfpq":
        df = SIM.ivfpq_topk(emb, n_queries=100, k=5, books=_pq_books(spark, sf_dir))
    else:
        raise ValueError(f"unknown topk method {method!r}")
    return view_persist(df)


@register(
    "s_pq_topk",
    oracle=_pq_oracle,
    tags=("SIM-pq", "J5", "O3"),
    doc="Product-quantization ANN with asymmetric distance (ADC): 64-float "
    "vectors compress to 8 per-subspace codes (codebooks = integer-exact "
    "k-means on a deterministic capped sample, driver-side — standard PQ "
    "training practice), encoding is a map-side argmin over codebook "
    "literals, and the query scan is one broadcast LUT join + combinable "
    "integer sum — the memory-bandwidth scale mode that completes the ANN "
    "family (brute force / LSH / IVF / SQ8 / PQ). Every distance is "
    "integer-quantized, so DuckDB replays codes, LUT, and top-k exactly.",
)
def s_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _topk(spark, sf_dir, "pq")


@register(
    "s_ivfpq_topk",
    oracle=_ivfpq_oracle,
    tags=("SIM-ivf", "SIM-pq", "J5", "O3"),
    doc="IVF-PQ composite ANN — the index layout a 100 TB vector corpus "
    "deploys (FAISS IVFxx,PQyy shape): the coarse IVF quantizer restricts "
    "each query to its n_probe nearest cells, and inside those cells "
    "candidates are scored by the PQ asymmetric-distance LUT instead of "
    "raw floats — the product of both reductions (n_probe/n_lists of the "
    "corpus scanned × 8 int codes per candidate instead of 64 floats). "
    "One shuffle end to end: broadcast cell assignment, map-side encode, "
    "broadcast probe + LUT joins, combinable integer sum. Integer-exact "
    "throughout, so the oracle replays cells, codes, LUT, and top-k "
    "bit-for-bit.",
)
def s_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _topk(spark, sf_dir, "ivfpq")


_RERANK_SHORTLIST = 32  # stage-1 IVF-PQ candidates per query before exact re-rank


def _ann_rerank_oracle() -> str:
    """Two-stage mirror: the IVF-PQ CTE chain at shortlist size, then the
    exact-cosine re-rank CTEs from the IVF oracle pattern — both stages
    hash-verified as one program."""
    cb_vals, lut_vals = _pq_sql_literals()
    return f"""
    WITH {_LONG},
    {_ivf_cells_ctes()},
    {_pq_codes_ctes(cb_vals)},
    lut(qid, sub, code, pd2i) AS (VALUES {lut_vals}),
    sc AS (
      SELECT p.qid, c.vec_id AS nid, CAST(sum(l.pd2i) AS BIGINT) AS d2i
      FROM probes p
      JOIN corpus c USING (cell)
      JOIN codes co ON co.vec_id = c.vec_id
      JOIN lut l ON l.qid = p.qid AND l.sub = co.sub AND l.code = co.code
      WHERE c.vec_id != p.qid
      GROUP BY 1, 2
    ),
    short AS (
      SELECT qid, nid, rk_pq FROM (
        SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY d2i, nid) AS rk_pq
        FROM sc)
      WHERE rk_pq <= {_RERANK_SHORTLIST}
    ),
    nm AS (SELECT vec_id, {dsum_sql('x * x')} AS sq FROM long GROUP BY 1),
    dots AS (
      SELECT s.qid, s.nid, s.rk_pq, {dsum_sql('q.x * t.x')} AS dot
      FROM short s
      JOIN long q ON q.vec_id = s.qid
      JOIN long t ON t.vec_id = s.nid AND t.i = q.i
      GROUP BY 1, 2, 3
    ),
    cos AS (
      SELECT qid, nid, rk_pq, dot / sqrt(qn.sq * tn.sq) AS cosine
      FROM dots JOIN nm qn ON qid = qn.vec_id JOIN nm tn ON nid = tn.vec_id
    ),
    rr AS (
      SELECT qid, nid, cosine, rk_pq,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS INTEGER) AS rk
      FROM cos
    )
    SELECT qid, nid, (floor(cosine * 1000000000.0 + 0.5) / 1000000000.0) AS cosine,
           rk, CAST(rk_pq AS INTEGER) AS rk_pq, (rk_pq != rk) AS moved
    FROM rr WHERE rk <= 5
    """


@register(
    "s_ann_rerank",
    oracle=_ann_rerank_oracle,
    tags=("SIM-ivf", "SIM-pq", "SIM-bruteforce", "J5", "O3"),
    doc="Two-stage retrieval - the deployment shape every production ANN "
    "stack ends at: the IVF-PQ composite index shortlists "
    f"{_RERANK_SHORTLIST} candidates per query on integer ADC codes "
    "(bandwidth-cheap, rank-noisy), then ONLY those pairs are re-scored "
    "with exact float cosine and re-ranked to the final top-5 - the "
    "re-rank touches shortlist x dim floats instead of corpus x dim, "
    "which is the whole economics of the pattern at 100 TB. Output "
    "carries both ranks plus a moved flag, so the rank churn the "
    "quantizer causes (and the re-ranker repairs) is visible per hit "
    "rather than buried in an aggregate recall number. Both stages "
    "replay in the oracle as one program.",
)
def s_ann_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..functions.exact import dsum, qround

    emb = _emb(spark, sf_dir)
    short = SIM.ivfpq_topk(
        emb, n_queries=100, k=_RERANK_SHORTLIST, books=_pq_books(spark, sf_dir)
    ).select("qid", "nid", F.col("rk").alias("rk_pq"))
    long = emb.select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "x")
    )
    nm = long.groupBy("vec_id").agg(dsum(F.col("x") * F.col("x")).alias("sq"))
    q = long.select(F.col("vec_id").alias("qid"), "i", F.col("x").alias("qx"))
    t = long.select(F.col("vec_id").alias("nid"), "i", F.col("x").alias("tx"))
    dots = (
        short.join(q, "qid")
        .join(t, ["nid", "i"])
        .groupBy("qid", "nid", "rk_pq")
        .agg(dsum(F.col("qx") * F.col("tx")).alias("dot"))
    )
    cos = (
        dots.join(nm.select(F.col("vec_id").alias("qid"), F.col("sq").alias("qsq")), "qid")
        .join(nm.select(F.col("vec_id").alias("nid"), F.col("sq").alias("tsq")), "nid")
        .select(
            "qid",
            "nid",
            "rk_pq",
            (F.col("dot") / F.sqrt(F.col("qsq") * F.col("tsq"))).alias("cosine"),
        )
    )
    rr = cos.withColumn(
        "rk",
        F.row_number()
        .over(W.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid")))
        .cast("int"),
    ).filter(F.col("rk") <= 5)
    return rr.select(
        "qid",
        "nid",
        qround("cosine", 9).alias("cosine"),
        "rk",
        F.col("rk_pq").cast("int").alias("rk_pq"),
        (F.col("rk_pq") != F.col("rk")).alias("moved"),
    )


def _sem_cents_values_sql() -> tuple[str, int]:
    """(VALUES literal, k) for the SEMANTIC-DEDUP centroid set: unlike
    :func:`_cents_values_sql` (fixed k = 8, the s_kmeans_embed contract),
    semantic dedup's k scales with corpus size via
    :func:`~..operators.similarity.semdedup_k` — the mirror recomputes the
    same k from the same count and replays the integer-exact Lloyd mirror
    at that k."""
    import os

    import duckdb as _dd

    from ..operators.similarity import SEMDEDUP_ITERS, kmeans_mirror, semdedup_k

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    con = _dd.connect()
    rows = con.execute(
        f"SELECT vec_id, embedding FROM read_parquet('{sf_dir}/embeddings.parquet')"
        " ORDER BY vec_id"
    ).fetchall()
    con.close()
    k = semdedup_k(len(rows))
    cents, _ = kmeans_mirror(
        [r[0] for r in rows], [r[1] for r in rows], k=k, iters=SEMDEDUP_ITERS
    )
    vals = ", ".join(
        f"({cell}, [" + ", ".join(f"{lit_double(v)}" for v in vec) + "])"
        for cell, vec in cents
    )
    return vals, k


@session_view
def _sem_cents(spark: SparkSession, sf_dir: str) -> list:
    """Session-lifetime + disk-checkpointed SemDeDup centroid index per
    sf_dir — like the PQ codebooks, the cluster centroids are a build-time
    artifact of the corpus that every dedup run over the same data reuses:
    train the k = clamp(sqrt(n)) Lloyd index once (distributed driver
    loop), checkpoint to the artifact store keyed by (embedding-file
    identity, n, k, iters, similarity-module source), restore everywhere
    else. A data regeneration at the same path or any edit to the distance
    /Lloyd math rotates the key, so a stale index can never serve."""
    import hashlib
    import os as _os

    import numpy as np

    from ..ml import artifacts as AR

    emb = _emb(spark, sf_dir)
    n = emb.count()
    k = SIM.semdedup_k(n)
    ident = []
    for uri in sorted(emb.inputFiles()):
        from urllib.parse import urlparse

        p = urlparse(uri).path
        try:
            st = _os.stat(p)
            ident.append(f"{p}:{st.st_size}:{st.st_mtime_ns}")
        except OSError:
            ident.append(p)
    fp = AR.source_fingerprint(
        SIM.__name__,
        extra=f"n={n} k={k} iters={SIM.SEMDEDUP_ITERS} files={';'.join(ident)}",
    )
    key = hashlib.sha256(fp.encode()).hexdigest()[:24]
    bank = AR.load_bank_keyed("semcents", key)
    if bank is not None:
        return [(i + 1, [float(v) for v in row]) for i, row in enumerate(bank)]
    cents = SIM.lloyd_train(emb, k=k, iters=SIM.SEMDEDUP_ITERS)
    AR.save_bank_keyed(
        "semcents", key,
        np.asarray([vec for _, vec in cents], dtype=np.float64),
        meta={"k": k, "n": int(n)},
    )
    return cents


def _semantic_dedup_oracle() -> str:
    from ..operators.similarity import SEMDEDUP_TAU, SEMDEDUP_WINDOW

    vals, _k = _sem_cents_values_sql()
    return f"""
    WITH cents(cell, c) AS (VALUES {vals}),
    d AS (
      SELECT vec_id, cell,
             list_sum(list_transform(range(1, len(embedding) + 1),
               i -> CAST(floor((CAST(embedding[i] AS DOUBLE) - c[i])
                               * (CAST(embedding[i] AS DOUBLE) - c[i])
                               * 1000000.0 + 0.5) AS BIGINT))) AS d2i
      FROM embeddings CROSS JOIN cents
    ),
    best AS (
      SELECT vec_id, cell, d2i,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2i, cell) AS rn
      FROM d
    ),
    asg AS (SELECT vec_id, CAST(cell AS INTEGER) AS cluster, d2i FROM best WHERE rn = 1),
    {_LONG},
    nm2 AS (SELECT vec_id, {dsum_sql('x * x')} AS sq FROM long GROUP BY 1),
    rkd AS (
      -- sorted-neighborhood rank within the cluster: (centroid distance,
      -- vec_id), zero-norm vectors excluded (they never pair). d2i ordering
      -- == the engine's d2 double ordering (exact integer micro-units).
      SELECT a.vec_id, a.cluster,
             row_number() OVER (PARTITION BY a.cluster ORDER BY a.d2i, a.vec_id) AS rk
      FROM asg a JOIN nm2 n ON a.vec_id = n.vec_id AND n.sq > 0
    ),
    prs AS (
      SELECT least(x.vec_id, y.vec_id) AS d1, greatest(x.vec_id, y.vec_id) AS d2
      FROM rkd x JOIN rkd y
        ON x.cluster = y.cluster
       AND y.rk - x.rk BETWEEN 1 AND {SEMDEDUP_WINDOW}
    ),
    dots AS (
      SELECT p.d1, p.d2, {dsum_sql('la.x * lb.x')} AS dot
      FROM prs p JOIN long la ON la.vec_id = p.d1
                 JOIN long lb ON lb.vec_id = p.d2 AND lb.i = la.i
      GROUP BY 1, 2
    ),
    drp AS (
      SELECT DISTINCT t.d2 AS vec_id
      FROM dots t JOIN nm2 n1 ON t.d1 = n1.vec_id JOIN nm2 n2 ON t.d2 = n2.vec_id
      WHERE t.dot / sqrt(n1.sq * n2.sq) >= {SEMDEDUP_TAU}
    )
    SELECT a.cluster, count(*) AS n_vecs,
           CAST(sum(CASE WHEN dr.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN dr.vec_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
    FROM asg a LEFT JOIN drp dr ON a.vec_id = dr.vec_id
    GROUP BY 1
    """


@register(
    "d_semantic_dedup",
    oracle=_semantic_dedup_oracle,
    tags=("DEDUP-embedding", "SIM-kmeans", "J5", "O4"),
    doc="SemDeDup-style semantic deduplication: k-means clusters block the "
    "candidate space (exact cosine runs only WITHIN a cluster — the "
    "cluster-blocked analog of banded LSH, per the SemDeDup recipe), then "
    "of each near-duplicate pair the higher vec_id drops (star collapse). "
    "Assignment is a map-side argmin over broadcast-literal centroids. Two "
    "enforced scale bounds: k = clamp(sqrt(n)) from one count (cluster "
    "sizes track n/k), and candidates are the sorted-neighborhood pairs "
    "(rank by centroid distance inside the cluster, pair only ranks within "
    "a fixed window via a sequence-explode equi-join) — candidate volume "
    "is window*n, LINEAR in corpus size. Oracle recomputes the same k, "
    "replays the integer-exact mirror centroids, and mirrors assignment, "
    "ranking, windowed pairing, and the decimal-exact cosine boundary.",
)
def d_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.semantic_dedup(
        _emb(spark, sf_dir), cents=_sem_cents(spark, sf_dir)
    )


@register(
    "s_ann_recall_eval",
    oracle=lambda: f"""
    SELECT b.qid,
           CAST(count(v.nid) AS BIGINT) AS n_match,
           CAST(count(v.nid) AS DOUBLE) / 5.0 AS recall
    FROM ({_BF_SQL}) b
    LEFT JOIN ({_ivf_oracle()}) v ON b.qid = v.qid AND b.nid = v.nid
    GROUP BY b.qid
    """,
    tags=("SIM-ivf", "SIM-bruteforce", "M24"),
    doc="ANN quality as a first-class query: per-query recall@5 of the IVF "
    "index against the exact brute-force baseline — the evaluation an "
    "index deployment runs continuously. Both sides are deterministic, so "
    "recall itself is hash-verified (the oracle composes the two existing "
    "oracle programs and joins them).",
)
def s_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    bf = _topk(spark, sf_dir, "bf").select("qid", "nid")
    ivf = _topk(spark, sf_dir, "ivf").select(
        F.col("qid").alias("v_qid"), F.col("nid").alias("v_nid")
    )
    j = bf.join(
        ivf,
        (F.col("qid") == F.col("v_qid")) & (F.col("nid") == F.col("v_nid")),
        "left",
    )
    return j.groupBy("qid").agg(
        F.count("v_nid").cast("bigint").alias("n_match"),
        (F.count("v_nid").cast("double") / F.lit(5.0)).alias("recall"),
    )


@register(
    "s_ann_recall_matrix",
    oracle=lambda: f"""
    SELECT 'ivf' AS method, CAST(count(*) AS BIGINT) AS n_matches,
           CAST(count(*) AS DOUBLE) / 500.0 AS recall_at_5
    FROM ({_BF_SQL}) b JOIN ({_ivf_oracle()}) v ON b.qid = v.qid AND b.nid = v.nid
    UNION ALL
    SELECT 'sq8', CAST(count(*) AS BIGINT),
           CAST(count(*) AS DOUBLE) / 500.0
    FROM ({_BF_SQL}) b JOIN ({_SQ8_SQL}) v ON b.qid = v.qid AND b.nid = v.nid
    UNION ALL
    SELECT 'pq', CAST(count(*) AS BIGINT),
           CAST(count(*) AS DOUBLE) / 500.0
    FROM ({_BF_SQL}) b JOIN ({_pq_oracle()}) v ON b.qid = v.qid AND b.nid = v.nid
    UNION ALL
    SELECT 'ivfpq', CAST(count(*) AS BIGINT),
           CAST(count(*) AS DOUBLE) / 500.0
    FROM ({_BF_SQL}) b JOIN ({_ivfpq_oracle()}) v ON b.qid = v.qid AND b.nid = v.nid
    """,
    tags=("SIM-ivf", "SIM-sq8", "SIM-pq", "SIM-bruteforce", "M24"),
    doc="Index-quality leaderboard: recall@5 of EVERY approximate index "
    "(IVF cell probe, SQ8 scalar quantization, PQ-ADC, IVF-PQ composite) "
    "against the exact brute-force top-5, one row per method — the "
    "evaluation matrix an ANN deployment tracks across index builds. "
    "Deterministic end to end, so the recall numbers themselves are "
    "hash-verified (the oracle composes five existing oracle programs).",
)
def s_ann_recall_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    bf = _topk(spark, sf_dir, "bf").select("qid", "nid")
    methods = (
        ("ivf", _topk(spark, sf_dir, "ivf")),
        ("sq8", _topk(spark, sf_dir, "sq8")),
        ("pq", _topk(spark, sf_dir, "pq")),
        ("ivfpq", _topk(spark, sf_dir, "ivfpq")),
    )
    parts = []
    for name, df in methods:
        m = df.select(F.col("qid").alias("v_qid"), F.col("nid").alias("v_nid"))
        hits = bf.join(
            m, (F.col("qid") == F.col("v_qid")) & (F.col("nid") == F.col("v_nid")), "left_semi"
        )
        parts.append(
            hits.agg(F.count(F.lit(1)).cast("bigint").alias("n_matches")).select(
                F.lit(name).alias("method"),
                "n_matches",
                (F.col("n_matches").cast("double") / F.lit(500.0)).alias("recall_at_5"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _mmr_oracle() -> str:
    """Mirror-golden MMR selection (independent numpy integer-micro
    replica of the decimal dots + the same greedy spec), with DuckDB
    itself recomputing every output cosine from the raw embeddings — a
    mirror error in the relevance column would hash-mismatch the engine."""
    import os

    import duckdb as _dd

    from ..operators.similarity import MMR_QUERY_ID, mmr_mirror

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    con = _dd.connect()
    rows = con.execute(
        f"SELECT vec_id, embedding FROM read_parquet('{sf_dir}/embeddings.parquet')"
        " ORDER BY vec_id"
    ).fetchall()
    con.close()
    res = mmr_mirror([r[0] for r in rows], [r[1] for r in rows])
    vals = ", ".join(
        f"({rk}, {vid}, {lit_double(score)})" for rk, vid, _cos, score in res
    )
    micro = (
        "list_sum(list_transform(range(1, len({a}) + 1), "
        "i -> CAST(floor(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) "
        "* 1000000.0 + 0.5) AS BIGINT)))"
    )
    dqd = micro.format(a="qe", b="e.embedding")
    dqq = micro.format(a="qe", b="qe")
    dnn = micro.format(a="e.embedding", b="e.embedding")
    return f"""
    WITH sel(rk, vec_id, mmr_score) AS (VALUES {vals}),
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {MMR_QUERY_ID}),
    dot AS (
      SELECT s.rk, s.vec_id, s.mmr_score,
             {dqd} AS dqd, {dqq} AS dqq, {dnn} AS dnn
      FROM sel s JOIN embeddings e USING (vec_id) CROSS JOIN q
    )
    SELECT CAST(rk AS INTEGER) AS rk, CAST(vec_id AS BIGINT) AS vec_id,
           (CAST(dqd AS DOUBLE) / 1000000.0)
             / sqrt((CAST(dqq AS DOUBLE) / 1000000.0)
                    * (CAST(dnn AS DOUBLE) / 1000000.0)) AS cosine,
           mmr_score
    FROM dot
    """


@register(
    "s_mmr_diversify",
    oracle=_mmr_oracle,
    tags=("SIM-ann", "J5", "O4"),
    doc="Maximal Marginal Relevance diversified re-ranking (Carbonell & "
    "Goldberg '98) - the post-ANN result diversifier every RAG stack "
    "runs: greedy top-5 from the decimal-exact cosine top-20 shortlist "
    "maximizing lam*cos(q,d) - (1-lam)*max cos(d,selected). Corpus stage "
    "is the two-speed broadcast scan + TakeOrdered; the candidate matrix "
    "is a constant shortlist^2 self-join of decimal dots; only that "
    "constant frame is collected for the inherently sequential greedy "
    "(bounded-collect contract, like coreset/PQ training).",
)
def s_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.mmr_diversify(_emb(spark, sf_dir))


KNN_K = 5


@register(
    "s_knn_graph",
    oracle=f"""
    WITH {_LONG},{_BANDED},
    ids AS (SELECT d1 AS vec_id FROM cands UNION SELECT d2 FROM cands),
    pl AS (SELECT * FROM long WHERE vec_id IN (SELECT vec_id FROM ids)),
    nm2 AS (SELECT vec_id, {dsum_sql('x * x')} AS sq FROM pl GROUP BY 1),
    dots AS (
      SELECT c.d1, c.d2, {dsum_sql('a.x * b.x')} AS dot
      FROM cands c JOIN pl a ON a.vec_id = c.d1 JOIN pl b ON b.vec_id = c.d2 AND b.i = a.i
      GROUP BY 1, 2
    ),
    cosd AS (
      SELECT d1, d2, dot / sqrt(n1.sq * n2.sq) AS cosine
      FROM dots JOIN nm2 n1 ON d1 = n1.vec_id JOIN nm2 n2 ON d2 = n2.vec_id
      WHERE n1.sq > 0 AND n2.sq > 0
    ),
    sym AS (SELECT d1 AS src, d2 AS nbr, cosine FROM cosd
            UNION ALL SELECT d2, d1, cosine FROM cosd),
    rk AS (SELECT src, nbr, cosine,
                  row_number() OVER (PARTITION BY src ORDER BY cosine DESC, nbr ASC) AS rnk
           FROM sym)
    SELECT src, nbr, CAST(rnk AS INTEGER) AS rnk, cosine FROM rk WHERE rnk <= {KNN_K}
    """,
    tags=("SIM-lsh", "J5", "O3"),
    doc="Approximate kNN graph over the embedding corpus - the input "
    "structure SemDeDup/label-prop/graph-clustering consume: every "
    "vector's top-5 neighbors among its banded-LSH bucket candidates by "
    "exact cosine. Candidate volume is the bounded bucket join (cap per "
    "(band, bucket)), the per-source rank window partitions by vector "
    "(bounded by bands x cap - never global), and the decimal-exact dot "
    "decides ties before the id tiebreak.",
)
def s_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    # r15: the threshold-free session pair graph IS this query's candidate
    # set (it was built with min_cosine=-1.0 here all along).
    pairs = _near_pairs_all(spark, sf_dir)
    sym = pairs.select(
        F.col("d1").alias("src"), F.col("d2").alias("nbr"), "cosine"
    ).unionAll(pairs.select(F.col("d2").alias("src"), F.col("d1").alias("nbr"), "cosine"))
    w = W.partitionBy("src").orderBy(F.col("cosine").desc(), F.col("nbr").asc())
    return (
        sym.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= KNN_K)
        .select("src", "nbr", F.col("rnk").cast("int").alias("rnk"), "cosine")
    )


@session_view
def _pca_fit_memo(spark: SparkSession, sf_dir: str):
    return SIM.pca_fit(_emb(spark, sf_dir))


def _pca_mirror(sf_dir: str):
    """Single-node replica of pca_fit + projection: int64 micro-unit sums
    reproduce the decimal-exact Spark aggregations bit-for-bit, the shared
    eigh/sign helper runs on the identical float64 covariance, and the
    projection is the same left-to-right fold the aggregate HOF performs."""
    from decimal import Decimal

    import duckdb
    import numpy as np

    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    ids = [int(r[0]) for r in rows]
    X = np.array([r[1] for r in rows], dtype=np.float64)
    n = len(ids)
    q = np.floor(X * 1e6 + 0.5).astype(np.int64)
    mu = [float(Decimal(int(s)).scaleb(-6)) / n for s in q.sum(axis=0)]
    cent = X - np.array(mu)[None, :]
    P = cent[:, :, None] * cent[:, None, :]
    ci = np.floor(P * 1e6 + 0.5).astype(np.int64).sum(axis=0)
    C = np.empty((64, 64))
    for i in range(64):
        for j in range(64):
            C[i, j] = float(Decimal(int(ci[i, j])).scaleb(-6)) / (n - 1)
    comps = SIM._pca_components_from_cov(C)
    offs = []
    for comp in comps:
        off = 0.0
        for m, w in zip(mu, comp):
            off += m * w
        offs.append(off)
    out = []
    for r, vid in enumerate(ids):
        pcs = []
        for comp, off in zip(comps, offs):
            acc = 0.0
            for k in range(64):
                acc += float(X[r, k]) * comp[k]
            pcs.append(acc - off)
        out.append((vid, pcs[0], pcs[1]))
    return out


def _pca_oracle() -> str:
    import os

    from ..functions.exact import qround_py

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    rows = ",".join(
        f"({vid}, {lit_double(qround_py(p1, 6))}, {lit_double(qround_py(p2, 6))})"
        for vid, p1, p2 in _pca_mirror(sf_dir)
    )
    return "SELECT * FROM (VALUES " + rows + ") AS t(vec_id, pc1, pc2)"


@register(
    "s_pca_project",
    oracle=_pca_oracle,
    tags=("SIM-ann", "J5", "A2"),
    doc="Exact-covariance PCA projection of the embedding corpus to its top "
    "2 components - the dimensionality reduction a training pipeline runs "
    "before visualization/indexing. The distributed work is the reduction "
    "to d^2 = 4096 decimal-exact covariance cells (one vec-keyed self-join "
    "of the long form, combinable sums); the 64x64 eigh is a driver step "
    "costing microseconds at any corpus size (the kmeans/PQ memoized-"
    "driver-train discipline), signs pinned deterministically; the "
    "projection is a map-only fold against component literals. The "
    "numpy-mirror oracle reconstructs the identical covariance via int64 "
    "micro-unit sums, so eigh and the fold agree bit-for-bit.",
)
def s_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.exact import qround

    mu, comps = _pca_fit_memo(spark, sf_dir)
    e1, e2 = SIM.pca_project_exprs(mu, comps)
    return _emb(spark, sf_dir).select(
        "vec_id",
        qround(F.expr(e1), 6).alias("pc1"),
        qround(F.expr(e2), 6).alias("pc2"),
    )


@register(
    "s_ivf_cell_stats",
    oracle=lambda: f"""
    WITH {_LONG},
    {_ivf_cells_ctes()},
    per AS (SELECT cell, count(*) AS n_vecs FROM corpus GROUP BY 1),
    tot AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS n, count(*) AS n_cells,
                   max(n_vecs) AS mx FROM per)
    SELECT CAST(per.cell AS INTEGER) AS cell,
           CAST(per.n_vecs AS BIGINT) AS n_vecs,
           (floor((CAST(per.n_vecs AS DOUBLE) / (CAST(tot.n AS DOUBLE) / CAST(tot.n_cells AS DOUBLE)))
                  * 1000000.0 + 0.5) / 1000000.0) AS load_factor,
           CAST(tot.mx AS BIGINT) AS max_cell
    FROM per, tot
    """,
    tags=("SIM-ivf", "A14", "A4"),
    doc="IVF cell-balance diagnostics - the no-silent-caps visibility query "
    "for the coarse quantizer (the LSH band-stats twin): per cell, its "
    "population and load factor vs the uniform expectation, plus the "
    "hottest cell - a skewed quantizer silently turns n_probe/n_lists "
    "pruning into a full scan, and this is the query that says so before "
    "the 100 TB run. One combinable count over the shared cell assignment "
    "+ a broadcast 1-row total.",
)
def s_ivf_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus, _ = SIM.ivf_cells(_emb(spark, sf_dir))
    per = corpus.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vecs"))
    tot = per.agg(
        F.sum("n_vecs").cast("bigint").alias("n"),
        F.count(F.lit(1)).alias("n_cells"),
        F.max("n_vecs").cast("bigint").alias("mx"),
    )
    lf = F.expr(
        "floor((CAST(n_vecs AS DOUBLE) / (CAST(n AS DOUBLE) / CAST(n_cells AS DOUBLE)))"
        " * 1000000.0D + 0.5D) / 1000000.0D"
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            F.col("cell").cast("int").alias("cell"),
            F.col("n_vecs").cast("bigint").alias("n_vecs"),
            lf.alias("load_factor"),
            F.col("mx").alias("max_cell"),
        )
    )


def _bf_at_dim(d: int) -> str:
    """Brute-force cosine top-5 program over the FIRST ``d`` dimensions —
    the _BF_SQL program with the long form truncated to i <= d (the
    Matryoshka prefix), norms and dots both over the prefix."""
    return f"""
    WITH longd AS (
      SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings, (SELECT unnest(range(1, {d + 1})) AS i)
    ),
    nm AS (SELECT vec_id, {dsum_sql('x * x')} AS sq FROM longd GROUP BY 1),
    dots AS (
      SELECT q.vec_id AS qid, t.vec_id AS nid, {dsum_sql('q.x * t.x')} AS dot
      FROM longd q JOIN longd t ON q.i = t.i AND q.vec_id < 100 AND q.vec_id != t.vec_id
      GROUP BY 1, 2
    ),
    cos AS (
      SELECT qid, nid, dot / sqrt(qn.sq * tn.sq) AS cosine
      FROM dots JOIN nm qn ON qid = qn.vec_id JOIN nm tn ON nid = tn.vec_id
      WHERE qn.sq > 0 AND tn.sq > 0
    ),
    rk AS (
      SELECT qid, nid,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS INTEGER) AS rk
      FROM cos
    )
    SELECT qid, nid FROM rk WHERE rk <= 5
    """


@register(
    "s_matryoshka_recall",
    oracle=lambda: "\nUNION ALL\n".join(
        f"""
    SELECT {d} AS dim, CAST(count(*) AS BIGINT) AS n_matches,
           CAST(count(*) AS DOUBLE) / 500.0 AS recall_at_5
    FROM ({_BF_SQL}) b JOIN ({_bf_at_dim(d)}) v ON b.qid = v.qid AND b.nid = v.nid
    """
        for d in (64, 32, 16)
    ),
    tags=("SIM-bruteforce", "M24", "A2"),
    doc="Matryoshka truncation ablation - the evaluation behind MRL-style "
    "embedding deployments (store 64 dims, serve 32 or 16): recall@5 of "
    "exact cosine search over the FIRST d dimensions against the full-"
    "dimension exact top-5, one row per truncation (d=64 is the 1.0 "
    "sanity anchor). Both sides are deterministic decimal-dot rankings, "
    "so the recall numbers themselves are hash-verified. Same broadcast-"
    "query/streaming-corpus shape as every brute-force pass - truncation "
    "only SHRINKS the per-pair work; nothing new shuffles.",
)
def s_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    full = _topk(spark, sf_dir, "bf").select("qid", "nid")
    parts = []
    for d in (64, 32, 16):
        if d == SIM.DIM:
            # slice(embedding, 1, DIM) is the identity on the DIM-wide
            # corpus, so the full-width pass IS the shared brute-force
            # frame — reuse it instead of re-running the scoring pass.
            tk = _topk(spark, sf_dir, "bf").select(
                F.col("qid").alias("v_qid"), F.col("nid").alias("v_nid")
            )
        else:
            te = emb.withColumn("embedding", F.slice("embedding", 1, d))
            tk = SIM.cosine_topk(te, n_queries=100, k=5).select(
                F.col("qid").alias("v_qid"), F.col("nid").alias("v_nid")
            )
        hits = full.join(
            tk,
            (F.col("qid") == F.col("v_qid")) & (F.col("nid") == F.col("v_nid")),
            "left_semi",
        )
        parts.append(
            hits.agg(F.count(F.lit(1)).cast("bigint").alias("n_matches")).select(
                F.lit(d).alias("dim"),
                "n_matches",
                (F.col("n_matches").cast("double") / F.lit(500.0)).alias("recall_at_5"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _ndcg_weights() -> tuple[list[float], float]:
    """Rank-discount weights 1/log2(rank+1) for NDCG@5, generated once in
    Python and embedded as identical double literals in both plans — the
    w_dft_power trig-table doctrine applied to logs."""
    import math

    w = [1.0 / math.log2(r + 1) for r in range(1, 6)]
    return w, sum(w)


_NDCG_W, _NDCG_IDCG = _ndcg_weights()


@register(
    "s_ndcg_eval",
    oracle=lambda: f"""
    WITH appr AS ({_ivf_oracle()}),
    exact AS ({_BF_SQL}),
    j AS (
      SELECT a.qid, a.rk,
             CASE WHEN e.nid IS NULL THEN 0.0
                  ELSE CASE a.rk {' '.join(f'WHEN {r + 1} THEN {lit_double(w)}' for r, w in enumerate(_NDCG_W))} END
             END AS gain,
             CASE WHEN e.nid IS NULL THEN 0 ELSE 1 END AS hit
      FROM appr a LEFT JOIN exact e ON a.qid = e.qid AND a.nid = e.nid
    )
    SELECT qid, CAST(sum(hit) AS BIGINT) AS n_hits,
           {qround_sql(f"{dsum_sql('gain')} / {lit_double(_NDCG_IDCG)}", 9)} AS ndcg_at_5
    FROM j GROUP BY 1
    """,
    tags=("SIM-ivf", "SIM-bruteforce", "M24", "A11"),
    doc="Rank-aware ANN quality: NDCG@5 of the IVF index against the exact "
    "brute-force ranking - recall counts hits, NDCG also charges the index "
    "for returning them in the wrong ORDER (a hit surfaced at rank 5 "
    "earns 0.39, at rank 1 earns 1.0). Binary relevance = membership in "
    "the exact top-5; the 1/log2(rank+1) discounts and the ideal DCG are "
    "Python-generated literals embedded identically in both plans (no "
    "cross-engine log2 ever runs), gains route through the decimal-exact "
    "sum. Composes two existing oracle programs; same bounded shapes as "
    "s_ann_recall_eval.",
)
def s_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.exact import dsum, qround

    bf = _topk(spark, sf_dir, "bf").select(
        F.col("qid").alias("e_qid"), F.col("nid").alias("e_nid")
    )
    appr = _topk(spark, sf_dir, "ivf").select("qid", "nid", "rk")
    warr = F.array(*[F.lit(w) for w in _NDCG_W])
    j = appr.join(
        bf,
        (F.col("qid") == F.col("e_qid")) & (F.col("nid") == F.col("e_nid")),
        "left",
    ).select(
        "qid",
        F.when(F.col("e_nid").isNull(), F.lit(0.0))
        .otherwise(F.element_at(warr, F.col("rk")))
        .alias("gain"),
        F.when(F.col("e_nid").isNull(), F.lit(0)).otherwise(F.lit(1)).alias("hit"),
    )
    return j.groupBy("qid").agg(
        F.sum("hit").cast("bigint").alias("n_hits"),
        qround(dsum("gain") / F.lit(_NDCG_IDCG), 9).alias("ndcg_at_5"),
    )


@register(
    "s_embedding_drift",
    oracle=lambda: f"""
    WITH {_LONG},
    {_ivf_cells_ctes()},
    per AS (
      SELECT cell,
             CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      FROM corpus GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(n_a) AS BIGINT) AS na, CAST(sum(n_b) AS BIGINT) AS nb,
             CAST(count(*) AS BIGINT) AS k
      FROM per
    )
    SELECT CAST(per.cell AS INTEGER) AS cell, per.n_a, per.n_b,
           {qround_sql(
               "(CAST(per.n_a + 1 AS DOUBLE) / CAST(tot.na + tot.k AS DOUBLE)"
               " - CAST(per.n_b + 1 AS DOUBLE) / CAST(tot.nb + tot.k AS DOUBLE))"
               " * (ln(CAST(per.n_a + 1 AS DOUBLE) / CAST(tot.na + tot.k AS DOUBLE))"
               "    - ln(CAST(per.n_b + 1 AS DOUBLE) / CAST(tot.nb + tot.k AS DOUBLE)))",
               9,
           )} AS psi_term
    FROM per, tot
    """,
    tags=("SIM-ivf", "A14", "A2"),
    doc="Embedding-distribution drift monitor: PSI between two embedding "
    "cohorts (even vs odd vec_id - the stand-in for yesterday's corpus vs "
    "today's delta) over the IVF coarse-cell histogram - the a_psi_drift "
    "recipe lifted from scalar bins to quantizer cells, the check an "
    "embedding deployment runs before trusting that a refreshed encoder "
    "or a new crawl slice still populates the index the same way (cell "
    "drift silently degrades every n_probe recall bound). Per-cell "
    "add-one-smoothed (p_a - p_b) * ln(p_a / p_b) contributions, quantized "
    "1e-9; cell assignment is the shared decimal-exact quantizer, so the "
    "whole monitor is hash-verified. One combinable conditional count per "
    "cell + a broadcast 1-row total.",
)
def s_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.exact import qround

    corpus, _ = SIM.ivf_cells(_emb(spark, sf_dir))
    per = corpus.groupBy("cell").agg(
        F.sum(F.when(F.col("vec_id") % 2 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("vec_id") % 2 == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
    )
    tot = per.agg(
        F.sum("n_a").cast("bigint").alias("na"),
        F.sum("n_b").cast("bigint").alias("nb"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    pa = (F.col("n_a") + 1).cast("double") / (F.col("na") + F.col("k")).cast("double")
    pb = (F.col("n_b") + 1).cast("double") / (F.col("nb") + F.col("k")).cast("double")
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            F.col("cell").cast("int").alias("cell"),
            "n_a",
            "n_b",
            qround((pa - pb) * (F.log(pa) - F.log(pb)), 9).alias("psi_term"),
        )
    )


_RP_K = 16  # projected dimensions
_RP_SALT = 300  # rng salt for the sign matrix (distinct from LSH planes' 100)


def _rp_signs() -> "list[list[float]]":
    """Deterministic 16×64 Rademacher sign matrix (±1.0) from the shared
    counter RNG keyed (out_dim, in_dim) — generated ONCE in Python and
    embedded as identical literals in both plans (the _plane_matrix / trig-
    table doctrine). ±1 entries make every projection an exact signed sum
    of the input coordinates: no float weights enter the fold."""
    import numpy as np

    from ..functions.rng import rng_draw_np

    js, is_ = np.meshgrid(
        np.arange(_RP_K, dtype=np.int64),
        np.arange(1, SIM.DIM + 1, dtype=np.int64),
        indexing="ij",
    )
    d = rng_draw_np([js.ravel(), is_.ravel()], salt=_RP_SALT)
    return (1.0 - 2.0 * (d % 2)).reshape(_RP_K, SIM.DIM).tolist()


def _rp_oracle() -> str:
    signs = _rp_signs()
    rows = ", ".join(
        f"({j}, {i + 1}, {lit_double(float(s))})"
        for j, row in enumerate(signs)
        for i, s in enumerate(row)
    )
    lfold = lambda terms: (
        f"list_reduce(list_concat([CAST(0.0 AS DOUBLE)], {terms}), (acc, v) -> acc + v)"
    )
    pd_terms = f"list_transform(range(1, {_RP_K + 1}), j -> a.ps[j] * b.ps[j])"
    pn_terms = lambda t: f"list_transform(range(1, {_RP_K + 1}), j -> {t}.ps[j] * {t}.ps[j])"
    return f"""
    WITH signs(j, i, s) AS (VALUES {rows}),
    {_LONG},
    nm AS (SELECT vec_id, {dsum_sql('x * x')} AS sq FROM long GROUP BY 1),
    proj AS (
      SELECT l.vec_id, sg.j, {dsum_sql('l.x * sg.s')} AS p
      FROM long l JOIN signs sg ON l.i = sg.i
      GROUP BY 1, 2
    ),
    parr AS (SELECT vec_id, list(p ORDER BY j) AS ps FROM proj GROUP BY 1),
    dots AS (
      SELECT a.vec_id AS ida, b.vec_id AS idb, {dsum_sql('a.x * b.x')} AS dot
      FROM long a JOIN long b ON b.vec_id = a.vec_id + 1 AND a.i = b.i
      GROUP BY 1, 2
    ),
    c AS (
      SELECT d.ida, d.idb,
             {qround_sql('d.dot / nullif(sqrt(na.sq * nb.sq), 0.0)', 9)} AS cos_orig,
             {qround_sql(f'{lfold(pd_terms)} / nullif(sqrt(({lfold(pn_terms("a"))}) * ({lfold(pn_terms("b"))})), 0.0)', 9)} AS cos_proj
      FROM dots d
      JOIN nm na ON d.ida = na.vec_id JOIN nm nb ON d.idb = nb.vec_id
      JOIN parr a ON d.ida = a.vec_id JOIN parr b ON d.idb = b.vec_id
    )
    SELECT ida, idb, cos_orig, cos_proj, abs(cos_proj - cos_orig) AS abs_err
    FROM c
    """


@register(
    "s_random_projection",
    oracle=_rp_oracle,
    tags=("ANN", "J5", "F8"),
    doc="Johnson-Lindenstrauss sanity probe: project the 64-d embeddings to "
    f"{_RP_K}-d with a deterministic Rademacher (±1) matrix from the shared "
    "counter RNG, then compare original vs projected cosine on consecutive-"
    "id pairs - the measurement a pipeline runs BEFORE committing to a "
    "cheaper projected index (is 4x compression's cosine error acceptable "
    "for this corpus?). Exactness: ±1 signs mean each projection is a "
    "signed sum routed through the decimal-exact fold; the 16-term "
    "projected dot/norm sums fold LEFT-TO-RIGHT from an explicit 0.0 seed "
    "in both engines (identical IEEE order), and both cosines are 1e-9-"
    "quantized before the error difference. 100 TB shape: projection is "
    "map-only per vector; the pair comparison is one 1-to-1 equi-join on "
    "adjacent ids - no quadratic anywhere.",
)
def s_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.exact import qround
    from ..operators.similarity import ddot_expr, dnorm_sq

    signs = _rp_signs()
    sg_lit = (
        "array("
        + ", ".join(
            "array(" + ", ".join(lit_double(float(s)) for s in row) + ")" for row in signs
        )
        + ")"
    )
    e = _emb(spark, sf_dir).select(
        "vec_id",
        "embedding",
        dnorm_sq("embedding").alias("sq"),
        F.expr(
            f"transform({sg_lit}, sj -> {ddot_expr('embedding', 'sj')})"
        ).alias("ps"),
    )
    a = e.select(
        F.col("vec_id").alias("ida"),
        F.col("embedding").alias("ea"),
        F.col("sq").alias("sqa"),
        F.col("ps").alias("pa"),
    )
    b = e.select(
        (F.col("vec_id") - 1).alias("ida"),
        F.col("vec_id").alias("idb"),
        F.col("embedding").alias("eb"),
        F.col("sq").alias("sqb"),
        F.col("ps").alias("pb"),
    )
    lfold = lambda arr: f"aggregate({arr}, cast(0.0 as double), (acc, v) -> acc + v)"
    j = a.join(b, "ida").select(
        "ida",
        "idb",
        qround(
            F.expr(ddot_expr("ea", "eb"))
            / F.nullif(F.sqrt(F.col("sqa") * F.col("sqb")), F.lit(0.0)),
            9,
        ).alias("cos_orig"),
        qround(
            F.expr(lfold("zip_with(pa, pb, (x, y) -> x * y)"))
            / F.nullif(
                F.sqrt(
                    F.expr(lfold("zip_with(pa, pa, (x, y) -> x * y)"))
                    * F.expr(lfold("zip_with(pb, pb, (x, y) -> x * y)"))
                ),
                F.lit(0.0),
            ),
            9,
        ).alias("cos_proj"),
    )
    return j.select(
        "ida",
        "idb",
        "cos_orig",
        "cos_proj",
        F.abs(F.col("cos_proj") - F.col("cos_orig")).alias("abs_err"),
    )
