"""Similarity search over embedding columns.

* :func:`cosine_topk` — brute-force exact top-k for one query vector.
  The correctness baseline: a single narrow scan + JVM-side dot products
  + one ``row_number`` (or a driver-side ``takeOrdered``-style limit).
  At 100 TB this is a full scan — right answer, bounded memory, one pass.
* :func:`ann_lsh_topk` — the scale path: random-hyperplane (sign) LSH
  bucketing.  Probes only the query's bucket, so the scan touches
  ~1/2^bits of the data; :func:`ann_lsh_multiprobe_topk` widens the probe
  to buckets within r bit flips (the recall dial).  Hyperplanes are
  generated from a fixed seed and inlined as one folded literal per
  vector (like every query vector: a CSV string cast to array<double>,
  one py4j call instead of one per element), which keeps the operator
  deterministic and lets the DuckDB oracle replay it exactly.
* :func:`knn_join` — batch k-NN: every query row gets its top-k neighbors
  (window over blocked candidate pairs).
* quantization ladder — :func:`sq_topk` (int8 scalar quantization, 4×
  scan-bandwidth cut) and :func:`pq_topk` (product quantization + ADC,
  ~32× at dim 64); both have materialized write-once/query-many layouts
  (:func:`write_sq_codes`, :func:`write_pq_codes`) whose probes never
  read the float column, and exact-rerank recipes.
* every ANN family has a file-level-pruned layout: LSH buckets
  (:func:`write_bucketed_embeddings` + single/multi-probe), IVF cells
  (:func:`write_ivf_layout`).

No UDFs anywhere — ``aggregate``/``zip_with`` dot products vectorize in
codegen; an Arrow pandas-UDF variant would only win past ~10k dims.
Every ``cosine(<column>, <query>)`` scores through
:func:`_cosine_to_query`: one parsed expression with the query's norm
folded in as a constant, bit-identical to ``vectors.cosine``.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from inception_spark.functions.vectors import cosine, dot


def _query_vec_sql(qv: list[float]) -> str:
    # one CSV string literal cast to array<double>: Catalyst folds it into
    # one array literal, built with one py4j call instead of one per
    # element; repr round-trips every double ('nan', 'inf', '-0.0' too)
    if not len(qv):
        return "CAST(array() AS ARRAY<DOUBLE>)"
    csv = ",".join(repr(float(x)) for x in qv)
    return f"CAST(split('{csv}', ',') AS ARRAY<DOUBLE>)"


def _query_vec_col(qv: list[float]):
    return F.expr(_query_vec_sql(qv))


def _cosine_to_query(name: str, qv: list[float]):
    """``cosine(F.col(name), q)`` for a constant query, as one parsed
    expression with ``norm(q)`` computed here: the same left-to-right
    double sum from 0.0 that Catalyst runs, and both square roots are
    correctly rounded, so every score is bit-identical while no row
    recomputes the query's norm."""
    acc = 0.0
    for x in qv:
        acc += float(x) * float(x)
    nq = repr(math.sqrt(acc))
    c = "`" + name.replace("`", "``") + "`"
    dot_sql = (
        f"aggregate(zip_with({c}, {_query_vec_sql(qv)}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, "
        "(acc, x) -> acc + coalesce(x, 0D))"
    )
    den_sql = (
        f"(sqrt(aggregate({c}, 0D, (acc, x) -> acc + "
        "coalesce(CAST(x AS DOUBLE) * CAST(x AS DOUBLE), 0D)))"
        f" * CAST('{nq}' AS DOUBLE))"
    )
    return F.expr(
        f"CASE WHEN {den_sql} != 0D THEN {dot_sql} / {den_sql} "
        "ELSE CAST(NULL AS DOUBLE) END"
    )


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine: (vec_id, score), deterministic tie-break on
    id.  Score rounded to 6 decimals BEFORE ranking so the ordering (and
    therefore the selected set) is reproducible across engines."""
    scored = df.select(
        F.col(id_col).alias("vec_id"),
        F.round(_cosine_to_query(vec_col, query_vec), 6).alias("score"),
    )
    # orderBy+limit compiles to TakeOrderedAndProject (distributed
    # per-partition top-k + k-row merge); a global row_number window would
    # shuffle EVERY scored row into one task.  The rank window then runs
    # on only k rows.
    top = scored.orderBy(F.desc("score"), F.asc("vec_id")).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc("vec_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "vec_id", "score", "rank"
    )


def lsh_hyperplanes(dim: int, bits: int = 8, seed: int = 2024) -> np.ndarray:
    """Deterministic Gaussian hyperplanes (bits × dim)."""
    return np.random.RandomState(seed).standard_normal((bits, dim))


def lsh_bucket_expr(vec_col, planes: np.ndarray):
    """Integer bucket id: sign bit per hyperplane, little-endian packed."""
    acc = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        lit = _query_vec_col(p)
        acc = acc + F.when(dot(vec_col, lit) > 0, F.lit(2**i).cast("long")).otherwise(0)
    return acc


def query_bucket(planes: np.ndarray, query_vec: list[float]) -> int:
    """The query's LSH bucket, computed with a driver-side SEQUENTIAL
    fold — the same IEEE-754 operation order as Catalyst's aggregate left
    fold, so the sign (and bucket) is bit-identical to running the
    expression, without paying a one-row Spark job.  (numpy.dot would use
    pairwise/BLAS summation, which can flip a borderline sign.)"""

    def _seq_dot(p, v):
        acc = 0.0
        for x, y in zip(p, v):
            acc += float(x) * float(y)
        return acc

    return sum(
        2**i for i, p in enumerate(planes) if _seq_dot(p, query_vec) > 0
    )


def ann_lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    *,
    k: int = 10,
    bits: int = 8,
    seed: int = 2024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: restrict the exact scan to the query's LSH
    bucket.  The bucket filter here is computed per-query over the raw
    table (full scan, pruned rows); for the write-once/query-many layout
    that prunes at the FILE level see :func:`write_bucketed_embeddings` +
    :func:`ann_lsh_topk_pruned`."""
    planes = lsh_hyperplanes(len(query_vec), bits=bits, seed=seed)
    bucketed = df.withColumn("bucket", lsh_bucket_expr(F.col(vec_col), planes))
    qbits = query_bucket(planes, query_vec)
    return cosine_topk(
        bucketed.filter(F.col("bucket") == qbits),
        query_vec,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
    )


def ann_lsh_multiprobe_topk(
    df: DataFrame,
    query_vec: list[float],
    *,
    k: int = 10,
    bits: int = 8,
    probe_hamming: int = 1,
    seed: int = 2024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe sign-LSH ANN: exact top-k over every bucket within
    ``probe_hamming`` bit flips of the query's bucket.

    The standard recall/cost dial for hyperplane LSH — a near neighbor
    that lands one sign-flip away is recovered by probing the 1 + bits
    adjacent buckets (scan fraction ≈ (1+bits)/2^bits at r=1) instead of
    re-hashing with more tables.  The probe set is expressed as a single
    ``bit_count(bucket XOR q) <= r`` predicate: one scan, JVM-side, and
    replayable verbatim in DuckDB (bit_count(xor(...)))."""
    planes = lsh_hyperplanes(len(query_vec), bits=bits, seed=seed)
    bucketed = df.withColumn(
        "bucket", lsh_bucket_expr(F.col(vec_col), planes)
    )
    qbits = query_bucket(planes, query_vec)
    cand = bucketed.filter(
        F.bit_count(
            F.col("bucket").bitwiseXOR(F.lit(qbits).cast("long"))
        )
        <= probe_hamming
    )
    return cosine_topk(cand, query_vec, k=k, id_col=id_col, vec_col=vec_col)


def write_bucketed_embeddings(
    df: DataFrame,
    path: str,
    *,
    dim: int,
    bits: int = 8,
    seed: int = 2024,
    vec_col: str = "embedding",
) -> None:
    """Materialize the corpus PARTITIONED BY its LSH sign-bucket
    (``path/bucket=N/...``).  The scale path for write-once/query-many
    ANN: each probe then reads ~1/2^bits of the files via Catalyst
    partition pruning (asserted in tests/test_plans.py) instead of
    scanning everything and discarding rows post-scan."""
    planes = lsh_hyperplanes(dim, bits=bits, seed=seed)
    (
        df.withColumn("bucket", lsh_bucket_expr(F.col(vec_col), planes))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )


def ann_lsh_topk_pruned(
    spark,
    path: str,
    query_vec: list[float],
    *,
    k: int = 10,
    bits: int = 8,
    seed: int = 2024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN probe over a :func:`write_bucketed_embeddings` layout: the
    ``bucket = q`` predicate is a partition filter, so only the query
    bucket's files are listed and read.  Bit-identical results to
    :func:`ann_lsh_topk` on the raw table (same hyperplanes, same
    sequential-fold query bucket)."""
    planes = lsh_hyperplanes(len(query_vec), bits=bits, seed=seed)
    qbits = query_bucket(planes, query_vec)
    probe = spark.read.parquet(path).filter(F.col("bucket") == qbits)
    return cosine_topk(probe, query_vec, k=k, id_col=id_col, vec_col=vec_col)


def probe_buckets(
    qbits: int, *, bits: int, probe_hamming: int
) -> list[int]:
    """All bucket ids within ``probe_hamming`` bit flips of ``qbits``,
    ascending — sum(C(bits, r)) values (1+bits at r=1)."""
    from itertools import combinations

    out = []
    for r in range(probe_hamming + 1):
        for flips in combinations(range(bits), r):
            b = qbits
            for i in flips:
                b ^= 1 << i
            out.append(b)
    return sorted(out)


def ann_lsh_multiprobe_topk_pruned(
    spark,
    path: str,
    query_vec: list[float],
    *,
    k: int = 10,
    bits: int = 8,
    probe_hamming: int = 1,
    seed: int = 2024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe ANN over a :func:`write_bucketed_embeddings` layout —
    the variant you'd actually run at 100 TB.

    The probe set is enumerated driver-side (:func:`probe_buckets`, a
    sum(C(bits, r))-element list — 9 values at bits=8/r=1) and pushed as
    a ``bucket IN (...)`` PARTITION filter, so Catalyst lists and reads
    only those partitions' files: scan fraction ≈ (1+bits)/2^bits at r=1
    via real file-level pruning, not post-scan row filtering.
    Bit-identical results to :func:`ann_lsh_multiprobe_topk` on the raw
    table (same hyperplanes, same sequential-fold query bucket; pinned in
    tests/test_plans.py along with the ≤1+bits partitions-read bound)."""
    planes = lsh_hyperplanes(len(query_vec), bits=bits, seed=seed)
    qbits = query_bucket(planes, query_vec)
    probes = probe_buckets(qbits, bits=bits, probe_hamming=probe_hamming)
    cand = spark.read.parquet(path).filter(F.col("bucket").isin(probes))
    return cosine_topk(cand, query_vec, k=k, id_col=id_col, vec_col=vec_col)


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 5,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    block_on: tuple[str, str] | None = None,
) -> DataFrame:
    """Batch k-NN join: for every query row, its top-k corpus neighbors by
    cosine.  ``block_on=(q_col, c_col)`` restricts candidates to matching
    blocks (otherwise a full cross join — only for small corpora or after
    LSH bucketing both sides; an explicit warning marks the opt-in, same
    precedent as simhash_dup_pairs' heuristic-recall warning)."""
    if block_on is None:
        import warnings

        warnings.warn(
            "knn_join(block_on=None) computes a FULL |queries|x|corpus| "
            "cross join — O(n*m) dot products in one unblocked stage. "
            "Fine for small corpora; at scale, block both sides first "
            "(LSH bucket or label) and pass block_on=(q_col, c_col)",
            stacklevel=2,
        )
    cond = (
        F.col(f"q.{block_on[0]}") == F.col(f"c.{block_on[1]}")
        if block_on
        else F.lit(True)
    )
    pairs = (
        queries.alias("q")
        .join(corpus.alias("c"), cond)
        .select(
            F.col(f"q.{q_id}").alias("q_id"),
            F.col(f"c.{c_id}").alias("n_id"),
            F.round(
                cosine(F.col(f"q.{q_vec}"), F.col(f"c.{c_vec}")), 6
            ).alias("score"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("n_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def knn_join_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    dim: int,
    k: int = 5,
    bits: int = 8,
    probe_hamming: int = 1,
    seed: int = 2024,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> DataFrame:
    """Batch k-NN at scale: LSH-blocked :func:`knn_join` — both sides
    bucket with the SAME hyperplanes, each query row explodes into its
    multi-probe bucket set (sum(C(bits, r)) rows — 9 at r=1), and
    candidates come from one shuffle EQUI-join on the bucket key.

    The crucial plan property: the probe condition is an equi join, never
    the ``bit_count(xor) <= r`` predicate as a join condition (which
    would compile to a nested-loop cross product).  Each corpus row has
    exactly one bucket and the probe masks are distinct, so no (q, c)
    pair is generated twice.  Cost ≈ |Q| * (1+bits) * avg bucket size
    dot products, spread across bucket-key partitions."""
    planes = lsh_hyperplanes(dim, bits=bits, seed=seed)
    masks = probe_buckets(0, bits=bits, probe_hamming=probe_hamming)
    qb = queries.withColumn("_qb", lsh_bucket_expr(F.col(q_vec), planes))
    qprobe = qb.withColumn(
        "_pb",
        F.explode(
            F.array(
                *[
                    F.col("_qb").bitwiseXOR(F.lit(m).cast("long"))
                    for m in masks
                ]
            )
        ),
    )
    cb = corpus.withColumn("_cb", lsh_bucket_expr(F.col(c_vec), planes))
    pairs = (
        qprobe.alias("q")
        .join(cb.alias("c"), F.col("q._pb") == F.col("c._cb"))
        .select(
            F.col(f"q.{q_id}").alias("q_id"),
            F.col(f"c.{c_id}").alias("n_id"),
            F.round(
                cosine(F.col(f"q.{q_vec}"), F.col(f"c.{c_vec}")), 6
            ).alias("score"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("n_id"))
    return pairs.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def semantic_search(
    chunk_embeddings: DataFrame,
    query_vec: list[float],
    *,
    k: int = 10,
    id_cols: tuple[str, ...] = ("doc_id", "chunk_number"),
    vec_col: str = "embedding",
) -> DataFrame:
    """The reference's production flow (SURVEY.md §7.3): a query embedding
    against the chunk-embedding table → top-k chunks by cosine.

    Returns (*id_cols, score, rank).  Stub and real encoders both produce
    L2-normalized vectors, so cosine reduces to the dot product — but we
    normalize anyway to stay correct for arbitrary vector columns."""
    scored = chunk_embeddings.select(
        *id_cols,
        F.round(_cosine_to_query(vec_col, query_vec), 6).alias("score"),
    )
    order = [F.desc("score")] + [F.asc(c) for c in id_cols]
    top = scored.orderBy(*order).limit(k)  # TakeOrderedAndProject
    w = Window.orderBy(*order)
    return top.withColumn("rank", F.row_number().over(w))


def _ivf_cells(
    df: DataFrame,
    *,
    n_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Deterministic IVF index construction shared by the in-plan probe
    and the materialized layout: returns ``(cent(cid, cvec),
    cell(id, cid))`` — seeds are the ``n_centroids`` smallest
    (md5(id), id) rows, assignment is the rounded-cosine argmax."""
    h = F.md5(F.col(id_col).cast("string"))
    cent = (
        df.select(h.alias("h"), F.col(id_col), F.col(vec_col))
        .orderBy("h", id_col)
        .limit(n_centroids)
    )
    wc = Window.orderBy("h", id_col)
    cent = cent.select(
        (F.row_number().over(wc) - 1).alias("cid"),
        F.col(vec_col).alias("cvec"),
    )
    # coalesce(-2): cosine is NULL on zero-norm rows; pin NULL below the
    # [-1, 1] range so the argmax/tie-break ordering is engine-identical
    # (NULL-in-struct comparison vs NULLS LAST would otherwise differ)
    scored = df.crossJoin(F.broadcast(cent)).select(
        F.col(id_col),
        F.col("cid"),
        F.coalesce(
            F.round(cosine(F.col(vec_col), F.col("cvec")), 6), F.lit(-2.0)
        ).alias("cs"),
    )
    # argmax with min-cid tie-break: max of (cs, -cid) struct
    cell = (
        scored.groupBy(id_col)
        .agg(
            F.max(
                F.struct(F.col("cs"), (-F.col("cid")).alias("ncid"))
            ).alias("m")
        )
        .select(F.col(id_col), (-F.col("m.ncid")).alias("cid"))
    )
    return cent, cell


def ivf_flat_topk(
    df: DataFrame,
    query_vec: list[float],
    *,
    k: int = 10,
    n_centroids: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic IVF-flat ANN, oracle-replayable end to end.

    Unlike :func:`ivf_topk` (MLlib KMeans — deterministic per Spark
    version but not reproducible in another engine), every step here is
    plain relational algebra over deterministic hashes, so DuckDB can
    replay the exact index:

    1. centroid seeds = the ``n_centroids`` rows with the smallest
       (md5(vec_id), vec_id) — a deterministic pseudo-random draw,
       selected via orderBy+limit (TakeOrderedAndProject, no global
       sort shuffle);
    2. cell assignment = argmax of the rounded cosine to each seed
       (broadcast cross join with the tiny centroid table, one
       vec_id-keyed argmax aggregate);
    3. probe = the ``n_probe`` cells nearest the query, chosen inside
       the engine by the same rounded-cosine ordering;
    4. exact :func:`cosine_topk` over the ~n_probe/n_centroids fraction
       of rows landing in probed cells.

    No Lloyd iterations — seeds ARE the centroids (IVF recall comes from
    n_probe, not centroid quality).  For write-once/query-many corpora,
    :func:`write_ivf_layout` persists step 2's assignment partitioned by
    cell and :func:`ivf_flat_topk_pruned` prunes at the file level (the
    IVF analog of write_bucketed_embeddings / ann_lsh_topk_pruned)."""
    cent, cell = _ivf_cells(
        df, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col
    )
    probe = (
        cent.select(
            "cid",
            F.coalesce(
                F.round(_cosine_to_query("cvec", query_vec), 6), F.lit(-2.0)
            ).alias("qs"),
        )
        .orderBy(F.desc("qs"), F.asc("cid"))
        .limit(n_probe)
        .select("cid")
    )
    cand_ids = cell.join(F.broadcast(probe), "cid").select(id_col)
    cand = df.join(cand_ids, id_col)
    return cosine_topk(cand, query_vec, k=k, id_col=id_col, vec_col=vec_col)


def write_ivf_layout(
    df: DataFrame,
    path: str,
    *,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the deterministic IVF index as the write-once/query-
    many layout :func:`ivf_flat_topk`'s docstring promises: the corpus
    partitioned by cell (``path/data/cell=N/``) plus the tiny centroid
    table (``path/centroids``).  Each query then reads ~n_probe/
    n_centroids of the data via real file-level partition pruning."""
    cent, cell = _ivf_cells(
        df, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col
    )
    cent.write.mode("overwrite").parquet(f"{path}/centroids")
    (
        df.join(cell, id_col)
        .withColumnRenamed("cid", "cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/data")
    )


def ivf_flat_topk_pruned(
    spark,
    path: str,
    query_vec: list[float],
    *,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe over a :func:`write_ivf_layout` corpus: the ``n_probe``
    nearest cells are picked from the materialized centroid table (a
    driver-side collect of n_centroids rows — control plane, same
    precedent as query_bucket) and pushed as a ``cell IN (...)``
    PARTITION filter, so only those cells' files are listed and read.
    Bit-identical to :func:`ivf_flat_topk` on the raw table: same seeds,
    same rounded-cosine probe ordering, same exact rescore."""
    cent = spark.read.parquet(f"{path}/centroids")
    probe = [
        r["cid"]
        for r in cent.select(
            "cid",
            F.coalesce(
                F.round(_cosine_to_query("cvec", query_vec), 6), F.lit(-2.0)
            ).alias("qs"),
        )
        .orderBy(F.desc("qs"), F.asc("cid"))
        .limit(n_probe)
        .collect()
    ]
    cand = spark.read.parquet(f"{path}/data").filter(
        F.col("cell").isin(probe)
    )
    return cosine_topk(cand, query_vec, k=k, id_col=id_col, vec_col=vec_col)


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    *,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 2,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) ANN: KMeans-partition the corpus, probe only the
    ``n_probe`` centroids nearest the query, exact cosine within them.

    The scale path for write-once/query-many corpora: persist the table
    partitioned by ``prediction`` and each query scans n_probe/n_centroids
    of the data with partition pruning.  Centroids are trained with a
    fixed seed (deterministic per Spark version); recall is tunable via
    n_probe.  Complements the hyperplane LSH variant (ann_lsh_topk)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = df.select(
        F.col(id_col),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias(
            "features"
        ),
    )
    model = KMeans(k=n_centroids, seed=seed, maxIter=5).fit(feats)
    assigned = model.transform(feats).select(id_col, "prediction")
    q = np.asarray(query_vec, dtype=np.float64)
    dists = [
        float(np.linalg.norm(np.asarray(c) - q))
        for c in model.clusterCenters()
    ]
    probe = sorted(range(len(dists)), key=lambda i: (dists[i], i))[:n_probe]
    cand = df.join(
        assigned.filter(F.col("prediction").isin(probe)).select(id_col),
        id_col,
    )
    return cosine_topk(cand, query_vec, k=k, id_col=id_col, vec_col=vec_col)


# ---------------------------------------------------------------------------
# int8 scalar quantization (FAISS-SQ8 shape) — the memory-bound scale path
# ---------------------------------------------------------------------------

def sq_scale(df, *, vec_col: str = "embedding"):
    """Corpus-wide symmetric quantization scale: ``127 / max(|x|)``.

    One scalar max aggregate (exact — no summation-order sensitivity),
    broadcast back over the corpus.  Returns a 1-row DataFrame
    ``(scale double)``."""
    maxabs = F.max(
        F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double"))))
    )
    # .otherwise(0.0): an all-zero (or empty) corpus must yield scale=0 —
    # a NULL scale would slip through least/greatest (which SKIP nulls)
    # and quantize every element to 127 instead of 0
    return df.agg(
        F.when(maxabs > 0.0, F.lit(127.0) / maxabs)
        .otherwise(F.lit(0.0))
        .alias("scale")
    )


def _sq_quant(vec, scale):
    """floor(x*scale + 0.5) clamped to [-127, 127] — explicit half-up
    rounding (identical in Spark, DuckDB, and Python for negatives, where
    the engines' ``round`` builtins disagree).  NULL elements (and a NULL
    scale) quantize to 0 — least/greatest skip NULLs, so without the
    coalesce a NULL would clamp to 127 and silently corrupt qdot."""
    return F.transform(
        vec,
        lambda x: F.coalesce(
            F.greatest(
                F.lit(-127),
                F.least(
                    F.lit(127),
                    F.floor(x.cast("double") * scale + F.lit(0.5)).cast(
                        "int"
                    ),
                ),
            ),
            F.lit(0),
        ),
    )


def sq_encode(
    df: DataFrame, *, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric int8 scalar quantization: (id, qvec array<int>, scale).

    100 TB rationale: the ANN scan is memory-bandwidth-bound; int8 codes
    cut bytes-per-vector 4× vs float32 (and the integer dot products stay
    in codegen).  The scale is a broadcast scalar — the crossJoin below
    is a broadcast of a 1-row aggregate, the same shape as the corpus-
    stats joins in plans/relational.py, never a real cartesian."""
    s = sq_scale(df, vec_col=vec_col)
    return df.crossJoin(F.broadcast(s)).select(
        F.col(id_col),
        _sq_quant(F.col(vec_col), F.col("scale")).alias("qvec"),
        F.col("scale"),
    )


def _sq_topk_over_encoded(
    enc: DataFrame, query_vec: list[float], *, k: int, id_col: str = "vec_id"
) -> DataFrame:
    """Shared SQ8 ranking tail: integer dot of stored ``qvec`` codes with
    the query quantized by the stored ``scale``, TakeOrderedAndProject
    top-k.  ``enc`` is any (id, qvec, scale) relation — built in-plan by
    :func:`sq_topk` or read from a :func:`write_sq_codes` layout."""
    q = _query_vec_col(query_vec)
    scored = enc.select(
        F.col(id_col).alias("vec_id"),
        F.aggregate(
            F.zip_with(
                F.col("qvec"),
                _sq_quant(q, F.col("scale")),
                lambda a, b: a.cast("long") * b.cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + F.coalesce(x, F.lit(0).cast("long")),
        ).alias("qdot"),
    )
    top = scored.orderBy(F.desc("qdot"), F.asc("vec_id")).limit(k)
    w = Window.orderBy(F.desc("qdot"), F.asc("vec_id"))
    return top.withColumn("rank", F.row_number().over(w))


def sq_topk(
    df: DataFrame,
    query_vec: list[float],
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by INTEGER quantized dot product: (vec_id, qdot, rank).

    The query is quantized with the corpus scale inside the plan, so the
    whole operator is one scan + TakeOrderedAndProject — and because the
    ranking key is an exact integer (no float summation anywhere), the
    selected set and scores are bit-identical across engines and
    partitionings with NO rounding step.  Recipe at scale: take top-3k
    by qdot, exactly rerank that short list with float cosine.

    NOTE this variant quantizes the FLOAT corpus on the fly — one query
    pays one float scan.  The 4× scan-bandwidth win of int8 only
    materializes on the write-once/query-many layout: persist codes with
    :func:`write_sq_codes` and probe them with
    :func:`sq_topk_over_codes`."""
    enc = sq_encode(df, id_col=id_col, vec_col=vec_col)
    return _sq_topk_over_encoded(enc, query_vec, k=k, id_col=id_col)


def write_sq_codes(
    df: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the int8 code table ONCE: ``(id, qvec array<tinyint>,
    scale)`` parquet at ``path``.

    This is the layout that actually delivers SQ8's memory-bandwidth
    claim: codes are 1 byte/dim (parquet stores the tinyint leaves
    bit-packed) vs 4-8 for the float vectors, and every subsequent query
    scans codes ONLY — the float column never appears in the probe's
    ReadSchema (pinned in tests/test_plans.py).  The scale rides along
    per-row (constant ⇒ RLE-compressed to nothing) so the codes file is
    self-contained."""
    enc = sq_encode(df, id_col=id_col, vec_col=vec_col)
    (
        enc.select(
            F.col(id_col),
            F.col("qvec").cast("array<tinyint>").alias("qvec"),
            F.col("scale"),
        )
        .write.mode("overwrite")
        .parquet(path)
    )


def sq_topk_over_codes(
    spark,
    path: str,
    query_vec: list[float],
    *,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """SQ8 probe over a :func:`write_sq_codes` layout: scans the int8
    codes only (¼ the bytes of the float corpus; the float column isn't
    even in the schema), quantizes the query with the STORED scale, and
    ranks by exact integer dot — bit-identical results to running
    :func:`sq_topk` on the raw table, since the codes and scale are the
    same values by construction."""
    codes = spark.read.parquet(path)
    return _sq_topk_over_encoded(codes, query_vec, k=k, id_col=id_col)


def sq_topk_rerank_over_codes(
    spark,
    path: str,
    df: DataFrame,
    query_vec: list[float],
    *,
    k: int = 10,
    prescan: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The production SQ8 recipe at scale: int8 prescan over the
    materialized codes (memory-bound, no float bytes), then exact float
    cosine over only the ``prescan``-row shortlist — fetched from the raw
    table via a broadcast semi-join, so the float column is read for
    ~prescan rows, not the corpus."""
    short = sq_topk_over_codes(
        spark, path, query_vec, k=prescan, id_col=id_col
    )
    cand = df.join(
        F.broadcast(short.select(F.col("vec_id").alias("_sq_id"))),
        F.col(id_col) == F.col("_sq_id"),
    ).drop("_sq_id")
    return cosine_topk(cand, query_vec, k=k, id_col=id_col, vec_col=vec_col)


def sq_topk_rerank(
    df: DataFrame,
    query_vec: list[float],
    *,
    k: int = 10,
    prescan: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The full SQ8 recipe: int8 quantized prescan selects ``prescan``
    candidates (the memory-bandwidth-bound fast path over the whole
    corpus), then exact float cosine reranks that short list.

    The shortlist is a ``prescan``-row broadcast semi-join back to the
    raw vectors — no second full scan shuffles anything.  With
    ``prescan >= |corpus|`` this degenerates to exact :func:`cosine_topk`
    (pinned in tests); at scale, prescan ≈ 3-5k for k=10 recovers
    exact-recall in practice while scanning int8 codes only."""
    short = sq_topk(df, query_vec, k=prescan, id_col=id_col, vec_col=vec_col)
    cand = df.join(
        F.broadcast(short.select(F.col("vec_id").alias("_sq_id"))),
        F.col(id_col) == F.col("_sq_id"),
    ).drop("_sq_id")
    return cosine_topk(cand, query_vec, k=k, id_col=id_col, vec_col=vec_col)


# ---------------------------------------------------------------------------
# product quantization (FAISS-PQ shape) — m-subspace codebooks, ADC scan
# ---------------------------------------------------------------------------
# The quantization family's scale ladder: SQ8 (above) cuts scan bytes 4x
# with per-element int8; PQ cuts them ~dim*4/m (64 dims -> 8 bytes = 32x
# vs float32) by coding each of m subvectors as its nearest of ksub
# codebook centroids, and scoring via Asymmetric Distance Computation —
# the query's distance to every (subspace, centroid) pair is an
# m x ksub lookup table, so the corpus scan is pure table lookups over
# the code bytes.  Everything is deterministic relational math (seed-row
# codebooks, integer micro-unit distances) so DuckDB replays the index
# bit-for-bit — no Lloyd iterations, same design stance as ivf_flat_topk.


def pq_codebook(
    df: DataFrame,
    *,
    ksub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic PQ codebook: the ``ksub`` rows with the smallest
    (md5(id), id) — the same pseudo-random seed draw as
    :func:`ivf_flat_topk` — collected driver-side (control plane,
    ksub rows).  Centroid ``cid``'s subspace-j centroid is the j-th
    subvector slice of seed row ``cid``."""
    h = F.md5(F.col(id_col).cast("string"))
    rows = (
        df.select(h.alias("h"), F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .orderBy("h", "i")
        .limit(ksub)
        .collect()
    )
    return [[float(x) for x in r["v"]] for r in rows]


def pq_encode(
    df: DataFrame,
    codebook: list[list[float]],
    *,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int> of length m) — code j is the argmin-distance
    centroid for subvector j (ties break on smaller cid via the struct
    array_min ordering).

    ZERO joins and zero shuffles: the codebook rides as plan literals, so
    encoding 100 TB is an embarrassingly parallel codegen scan — m*ksub
    fused subvector distances per row, nothing crosses stage bounds.
    Per subspace the ksub centroid subvectors ride as ONE 2-D array
    literal probed by a single indexed ``transform`` lambda (the
    ``clustering._argmin_on`` shape): same arithmetic as the expanded
    per-centroid form, but the expression tree — and the per-query
    Catalyst analysis time that dominated the in-plan encode — is
    O(m lambdas), not O(m·ksub)."""
    dim = len(codebook[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m

    def code_j(j: int):
        sub = F.slice(F.col(vec_col), j * dsub + 1, dsub)
        lit2 = F.lit(
            [
                [float(x) for x in c[j * dsub : (j + 1) * dsub]]
                for c in codebook
            ]
        )
        # integer MICRO-UNITS (floor(d2*1e6 + 0.5)) — half-up like
        # _sq_quant, so scores are engine-exact with no float ranking
        d = lambda c: F.floor(  # noqa: E731
            F.aggregate(
                F.zip_with(
                    sub,
                    c,
                    lambda x, y: (x.cast("double") - y.cast("double"))
                    * (x.cast("double") - y.cast("double")),
                ),
                F.lit(0.0),
                lambda acc, x: acc + F.coalesce(x, F.lit(0.0)),
            )
            * F.lit(1000000.0)
            + F.lit(0.5)
        ).cast("long")
        return F.array_min(
            F.transform(
                lit2,
                lambda c, i: F.struct(
                    d(c).alias("d"),
                    i.alias("cid"),  # transform index is INT, same as F.lit(cid) was
                ),
            )
        )["cid"]

    codes = F.array(*[code_j(j) for j in range(m)])
    return df.select(F.col(id_col), codes.alias("codes"))


def _pq_lut_units(
    codebook: list[list[float]], query_vec: list[float], m: int
) -> list[list[int]]:
    """The ADC lookup table: lut[j][cid] = micro-unit squared L2 between
    the query's subvector j and centroid cid's subvector j.  Driver-side
    SEQUENTIAL float fold — the same operation order as the Catalyst
    aggregate and DuckDB's list_sum (query_bucket precedent), so the
    integer units agree across engines."""
    import math

    dim = len(query_vec)
    dsub = dim // m
    lut = []
    for j in range(m):
        row = []
        for c in codebook:
            acc = 0.0
            for x, y in zip(
                query_vec[j * dsub : (j + 1) * dsub],
                c[j * dsub : (j + 1) * dsub],
            ):
                acc += (float(x) - float(y)) * (float(x) - float(y))
            row.append(int(math.floor(acc * 1e6 + 0.5)))
        lut.append(row)
    return lut


def _pq_topk_over_encoded(
    enc: DataFrame,
    lut: list[list[int]],
    *,
    k: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """Shared ADC ranking tail over any (id, codes) relation: per row,
    sum the m LUT entries its codes select (integer adds over literal
    arrays — pure codegen), TakeOrderedAndProject the k smallest."""
    terms = [
        F.element_at(
            F.array(*[F.lit(v) for v in row]),
            F.element_at(F.col("codes"), j + 1) + F.lit(1),
        )
        for j, row in enumerate(lut)
    ]
    adc = terms[0]
    for t in terms[1:]:
        adc = adc + t
    scored = enc.select(
        F.col(id_col).alias("vec_id"), adc.alias("adc_dist")
    )
    top = scored.orderBy(F.asc("adc_dist"), F.asc("vec_id")).limit(k)
    w = Window.orderBy(F.asc("adc_dist"), F.asc("vec_id"))
    return top.withColumn("rank", F.row_number().over(w))


def pq_topk(
    df: DataFrame,
    query_vec: list[float],
    *,
    k: int = 10,
    m: int = 8,
    ksub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k by PQ/ADC: (vec_id, adc_dist, rank), smaller = nearer.

    Scores are exact integers end to end (micro-unit LUT entries summed
    per row), so the selected set is bit-identical across engines and
    partitionings with no rounding discipline — same property as sq_topk.
    This variant encodes the float corpus in-plan (one query pays one
    float scan); the 32x bandwidth win materializes on the
    :func:`write_pq_codes` / :func:`pq_topk_over_codes` layout."""
    codebook = pq_codebook(df, ksub=ksub, id_col=id_col, vec_col=vec_col)
    enc = pq_encode(df, codebook, m=m, id_col=id_col, vec_col=vec_col)
    lut = _pq_lut_units(codebook, [float(x) for x in query_vec], m)
    return _pq_topk_over_encoded(enc, lut, k=k, id_col=id_col)


def write_pq_codes(
    df: DataFrame,
    path: str,
    *,
    m: int = 8,
    ksub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the PQ index once: ``path/codes`` (id, codes
    array<tinyint> — m bytes/vector, ksub <= 127) and ``path/codebook``
    (cid, cvec).  Probes then scan the code bytes only; the float column
    never appears in the probe's ReadSchema (pinned in test_plans)."""
    codebook = pq_codebook(df, ksub=ksub, id_col=id_col, vec_col=vec_col)
    spark = df.sparkSession
    spark.createDataFrame(
        [(i, v) for i, v in enumerate(codebook)],
        "cid int, cvec array<double>",
    ).write.mode("overwrite").parquet(f"{path}/codebook")
    (
        pq_encode(df, codebook, m=m, id_col=id_col, vec_col=vec_col)
        .select(
            F.col(id_col),
            F.col("codes").cast("array<tinyint>").alias("codes"),
        )
        .write.mode("overwrite")
        .parquet(f"{path}/codes")
    )


def pq_topk_over_codes(
    spark,
    path: str,
    query_vec: list[float],
    *,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC probe over a :func:`write_pq_codes` layout: reads m code bytes
    per vector (the 32x-at-dim-64 scan-bandwidth path), rebuilds the LUT
    from the materialized codebook (driver-side, ksub rows), and ranks by
    the same exact integer sums — bit-identical to :func:`pq_topk`."""
    cb_rows = (
        spark.read.parquet(f"{path}/codebook").orderBy("cid").collect()
    )
    codebook = [[float(x) for x in r["cvec"]] for r in cb_rows]
    codes = spark.read.parquet(f"{path}/codes")
    m = _pq_infer_m(codes)
    lut = _pq_lut_units(codebook, [float(x) for x in query_vec], m)
    enc = codes.select(
        F.col(id_col), F.col("codes").cast("array<int>").alias("codes")
    )
    return _pq_topk_over_encoded(enc, lut, k=k, id_col=id_col)


def _pq_infer_m(codes: DataFrame) -> int:
    """m = the stored code length (schema-stable; read from one row)."""
    row = codes.select(F.size("codes").alias("m")).head()
    return int(row["m"])


def pq_topk_rerank(
    df: DataFrame,
    query_vec: list[float],
    *,
    k: int = 10,
    prescan: int = 50,
    m: int = 8,
    ksub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The production PQ recipe: ADC prescan selects ``prescan``
    candidates (code-bytes-bound over the corpus), exact float cosine
    reranks only that shortlist via a broadcast semi-join — the same
    two-stage shape as :func:`sq_topk_rerank`."""
    short = pq_topk(
        df, query_vec, k=prescan, m=m, ksub=ksub,
        id_col=id_col, vec_col=vec_col,
    )
    cand = df.join(
        F.broadcast(short.select(F.col("vec_id").alias("_pq_id"))),
        F.col(id_col) == F.col("_pq_id"),
    ).drop("_pq_id")
    return cosine_topk(cand, query_vec, k=k, id_col=id_col, vec_col=vec_col)


# ---------------------------------------------------------------------------
# dimensionality reduction + corpus diagnostics
# ---------------------------------------------------------------------------


def projection_planes(
    dim: int, out_dim: int = 16, seed: int = 4096
) -> np.ndarray:
    """Deterministic Johnson-Lindenstrauss projection: Gaussian rows
    scaled by 1/sqrt(out_dim) (the JL norm-preserving convention)."""
    rs = np.random.RandomState(seed)
    return rs.standard_normal((out_dim, dim)) / np.sqrt(out_dim)


def random_projection(
    df: DataFrame,
    *,
    dim: int,
    out_dim: int = 16,
    seed: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, proj array<double> of out_dim) — JL random projection.

    The standard pre-reduce for ANN at scale: distances are preserved
    within (1±eps) w.h.p., and a 64→16 projection cuts exact-scan flops
    and candidate-rerank bandwidth 4×.  The plane matrix is seeded and
    inlined as one folded literal per plane, so the operator is a ZERO-shuffle codegen
    map (same execution shape as pq_encode) and the DuckDB oracle
    replays it verbatim.  Elements rounded to 6 dp like every score."""
    planes = projection_planes(dim, out_dim=out_dim, seed=seed)
    proj = F.array(
        *[
            F.round(
                dot(
                    F.col(vec_col),
                    _query_vec_col(p),
                ),
                6,
            )
            for p in planes
        ]
    )
    return df.select(F.col(id_col), proj.alias("proj"))


def group_centroid_outliers(
    df: DataFrame,
    *,
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-row cosine to its GROUP's centroid: (id, group, score) —
    the corpus-drift/outlier diagnostic (rows far from their source's
    centroid are mislabeled, contaminated, or genuinely novel).

    Engine-exact without materializing centroid arrays: cos(v, c) needs
    only dot(v, c), |v|² and |c|², all of which are sums over the
    exploded (group, pos) grid — so the whole operator is two hash
    aggregates and one equi-join on (group, pos).  Float products are
    quantized to DECIMAL(20,10) before summation (order-independent,
    exact — the same discipline as the money aggregates), so centroids
    and scores are bit-identical across engines and partitionings.

    Scale shape: |groups|×dim centroid table (tiny — broadcast back),
    explode is dim rows/vector but narrow (three numeric columns); no
    all-pairs anything."""
    dec = "decimal(20,10)"
    pos = df.select(
        F.col(group_col).alias("grp"),
        F.col(id_col),
        F.posexplode(F.col(vec_col)).alias("pos", "x"),
    ).withColumn("x", F.col("x").cast("double"))
    cent = pos.groupBy("grp", "pos").agg(
        (
            F.sum(F.col("x").cast(dec)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("c")
    )
    cc = cent.groupBy("grp").agg(
        F.sum((F.col("c") * F.col("c")).cast(dec)).cast("double").alias("cc")
    )
    j = pos.join(cent, ["grp", "pos"])
    per_doc = j.groupBy("grp", F.col(id_col)).agg(
        F.sum((F.col("x") * F.col("c")).cast(dec)).cast("double").alias("dv"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).cast("double").alias("vv"),
    )
    den = F.sqrt(F.col("vv") * F.col("cc"))
    return (
        per_doc.join(cc, "grp")
        .select(
            F.col(id_col),
            F.col("grp").alias(group_col),
            F.when(den != 0.0, F.round(F.col("dv") / den, 6))
            .otherwise(F.lit(None).cast("double"))
            .alias("score"),
        )
    )


# ---------------------------------------------------------------------------
# IVF + PQ (the composed FAISS-IVFPQ shape)
# ---------------------------------------------------------------------------

def ivf_pq_topk(
    df: DataFrame,
    query_vec: list[float],
    *,
    k: int = 10,
    n_centroids: int = 8,
    n_probe: int = 2,
    m: int = 8,
    ksub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF cell probe + PQ/ADC ranking — the composed index every
    billion-vector system runs (FAISS ``IVFx,PQy``): the IVF stage cuts
    the scan to ~n_probe/n_centroids of the corpus, the PQ stage cuts
    the bytes-per-scanned-vector to m.  Fully deterministic (both stages
    use the md5 seed draw) and oracle-replayable: candidate selection is
    :func:`ivf_flat_topk` steps 1–3, ranking is the integer micro-unit
    ADC of :func:`pq_topk` — a candidate's ADC distance is independent
    of the probe, so the oracle scores all rows and filters.

    For the write-once/query-many economics — probes reading ~m bytes ×
    probed fraction of vectors — see :func:`write_ivf_pq_layout`."""
    cent, cell = _ivf_cells(
        df, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col
    )
    probe = (
        cent.select(
            "cid",
            F.coalesce(
                F.round(_cosine_to_query("cvec", query_vec), 6), F.lit(-2.0)
            ).alias("qs"),
        )
        .orderBy(F.desc("qs"), F.asc("cid"))
        .limit(n_probe)
        .select("cid")
    )
    cand_ids = cell.join(F.broadcast(probe), "cid").select(id_col)
    cand = df.join(cand_ids, id_col)
    cb = pq_codebook(df, ksub=ksub, id_col=id_col, vec_col=vec_col)
    enc = pq_encode(cand, cb, m=m, id_col=id_col, vec_col=vec_col)
    lut = _pq_lut_units(cb, [float(x) for x in query_vec], m)
    return _pq_topk_over_encoded(enc, lut, k=k, id_col=id_col)


def write_ivf_pq_layout(
    df: DataFrame,
    path: str,
    *,
    n_centroids: int = 8,
    m: int = 8,
    ksub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the full IVFPQ index: ``path/centroids`` (IVF),
    ``path/codebook`` (PQ), and ``path/codes`` — (id, codes
    array<tinyint>) PARTITIONED BY the IVF cell.  A probe then reads
    m code bytes per vector × only the probed cells' files: at dim 64 /
    m=8 / n_probe 2-of-8 that is ~128× less scan volume than the raw
    float table, via real partition pruning, before any decode."""
    cent, cell = _ivf_cells(
        df, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col
    )
    cent.write.mode("overwrite").parquet(f"{path}/centroids")
    cb = pq_codebook(df, ksub=ksub, id_col=id_col, vec_col=vec_col)
    spark = df.sparkSession
    spark.createDataFrame(
        [(i, v) for i, v in enumerate(cb)], "cid int, cvec array<double>"
    ).write.mode("overwrite").parquet(f"{path}/codebook")
    (
        pq_encode(df, cb, m=m, id_col=id_col, vec_col=vec_col)
        .join(cell.withColumnRenamed("cid", "cell"), id_col)
        .select(
            F.col(id_col),
            F.col("codes").cast("array<tinyint>").alias("codes"),
            "cell",
        )
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/codes")
    )


def ivf_pq_topk_over_codes(
    spark,
    path: str,
    query_vec: list[float],
    *,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """IVFPQ probe over a :func:`write_ivf_pq_layout` index: probe cells
    come from the materialized centroid table (driver-side control
    plane, the ivf_flat_topk_pruned precedent), the LUT from the
    materialized codebook, and the scan is ``cell IN (...)`` partition
    pruning over code bytes — the float column does not exist in the
    layout at all.  Bit-identical to :func:`ivf_pq_topk` on the raw
    table (same seeds, same probe ordering, same integer ADC)."""
    cent = spark.read.parquet(f"{path}/centroids")
    probe = [
        r["cid"]
        for r in cent.select(
            "cid",
            F.coalesce(
                F.round(_cosine_to_query("cvec", query_vec), 6), F.lit(-2.0)
            ).alias("qs"),
        )
        .orderBy(F.desc("qs"), F.asc("cid"))
        .limit(n_probe)
        .collect()
    ]
    cb_rows = spark.read.parquet(f"{path}/codebook").orderBy("cid").collect()
    cb = [[float(x) for x in r["cvec"]] for r in cb_rows]
    codes = spark.read.parquet(f"{path}/codes").filter(
        F.col("cell").isin(probe)
    )
    m = _pq_infer_m(codes)
    lut = _pq_lut_units(cb, [float(x) for x in query_vec], m)
    return _pq_topk_over_encoded(codes, lut, k=k, id_col=id_col)


# ---------------------------------------------------------------------------
# index-selection harness: recall@k of every ANN family vs exact
# ---------------------------------------------------------------------------

def ann_recall_report(
    df: DataFrame,
    *,
    n_queries: int = 10,
    k: int = 10,
    bits: int = 8,
    probe_hamming: int = 1,
    seed: int = 2024,
    n_centroids: int = 8,
    n_probe: int = 2,
    m: int = 8,
    ksub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of each ANN family against exact cosine, batched fully
    in-engine: (method, hits, possible, recall) for ``lsh``,
    ``lsh_multiprobe``, ``ivf`` and ``pq_adc`` — how you pick an index
    (and its dials) before committing to a 100 TB build, the ANN analog
    of ``dedup.lsh_eval_report``.

    EVAL-ONLY shape, like that harness: the exact ground truth is a
    ``n_queries × corpus`` scored cross join — linear in the corpus and
    fine for a sampled eval, never the production probe path.  The
    queries are the ``n_queries`` smallest ids (corpus members; the
    self-match is included, deterministically, for every method alike).
    Every stage is relational: multi-probe explodes the r≤1 flip masks
    and equi-joins on bucket, IVF assigns cells to both sides and joins
    on the probed cells, PQ scores via posexplode(codes) ⋈ a
    (query × subspace × centroid) LUT relation — integer ADC, no
    per-query literals, so ONE plan scores all queries."""
    qs = (
        df.orderBy(F.col(id_col))
        .limit(n_queries)
        .select(
            F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
        )
    ).localCheckpoint(eager=False)
    base = df.select(F.col(id_col), F.col(vec_col)).localCheckpoint(
        eager=False
    )

    def topk_per_q(scored, order_cols):
        w = Window.partitionBy("q_id").orderBy(*order_cols)
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("q_id", id_col)
        )

    cos = F.coalesce(
        F.round(cosine(F.col("q_vec"), F.col(vec_col)), 6), F.lit(-2.0)
    )
    exact = topk_per_q(
        qs.crossJoin(base).select("q_id", id_col, cos.alias("s")),
        [F.desc("s"), F.asc(id_col)],
    ).localCheckpoint(eager=False)

    planes = lsh_hyperplanes(
        len(df.select(vec_col).first()[0]), bits=bits, seed=seed
    )
    corpus_b = base.withColumn(
        "bucket", lsh_bucket_expr(F.col(vec_col), planes)
    ).localCheckpoint(eager=False)
    qb = qs.withColumn("qbucket", lsh_bucket_expr(F.col("q_vec"), planes))

    def lsh_method(masks):
        probes = qb.select(
            "q_id",
            "q_vec",
            F.explode(
                F.transform(
                    F.lit(masks),
                    lambda mk: F.col("qbucket").bitwiseXOR(mk),
                )
            ).alias("bucket"),
        )
        cand = probes.join(corpus_b, "bucket").select(
            "q_id", id_col, cos.alias("s")
        )
        return topk_per_q(cand, [F.desc("s"), F.asc(id_col)])

    lsh_1 = lsh_method([0])
    lsh_mp = lsh_method([0] + [1 << b for b in range(bits)])

    cent, cell = _ivf_cells(
        df, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col
    )
    # rank cells per query (n_probe of them, ordered like ivf_flat_topk)
    wq = Window.partitionBy("q_id").orderBy(
        F.desc("cs"), F.asc("cid")
    )
    qcell = (
        qs.crossJoin(F.broadcast(cent))
        .select(
            "q_id",
            "q_vec",
            "cid",
            F.coalesce(
                F.round(cosine(F.col("q_vec"), F.col("cvec")), 6),
                F.lit(-2.0),
            ).alias("cs"),
        )
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select("q_id", "q_vec", "cid")
    )
    ivf_cand = (
        qcell.join(cell, "cid").join(base, id_col)
        .select("q_id", id_col, cos.alias("s"))
    )
    ivf = topk_per_q(ivf_cand, [F.desc("s"), F.asc(id_col)])

    cb = pq_codebook(df, ksub=ksub, id_col=id_col, vec_col=vec_col)
    dim = len(cb[0])
    dsub = dim // m
    enc = pq_encode(base, cb, m=m, id_col=id_col, vec_col=vec_col)
    cbdf = df.sparkSession.createDataFrame(
        [(i, v) for i, v in enumerate(cb)], "cid int, cvec array<double>"
    )
    subs = df.sparkSession.range(m).select(F.col("id").cast("int").alias("j"))

    def _d_units(a, b):
        return F.floor(
            F.aggregate(
                F.zip_with(
                    a, b,
                    lambda x, y: (x.cast("double") - y.cast("double"))
                    * (x.cast("double") - y.cast("double")),
                ),
                F.lit(0.0),
                lambda acc, x: acc + F.coalesce(x, F.lit(0.0)),
            )
            * F.lit(1000000.0)
            + F.lit(0.5)
        ).cast("long")

    lut = (
        qs.crossJoin(F.broadcast(cbdf))
        .crossJoin(F.broadcast(subs))
        .select(
            "q_id",
            "cid",
            "j",
            _d_units(
                F.slice(
                    F.col("q_vec"), F.col("j") * dsub + 1, dsub
                ),
                F.slice(F.col("cvec"), F.col("j") * dsub + 1, dsub),
            ).alias("qd"),
        )
    )
    codes_x = enc.select(
        F.col(id_col), F.posexplode("codes").alias("j", "cid")
    )
    pq_scores = (
        codes_x.join(F.broadcast(lut), ["j", "cid"])
        .groupBy("q_id", id_col)
        .agg(F.sum("qd").alias("adc"))
    )
    pq = topk_per_q(pq_scores, [F.asc("adc"), F.asc(id_col)])

    possible = n_queries * k
    out = None
    for name, hits_df in (
        ("lsh", lsh_1),
        ("lsh_multiprobe", lsh_mp),
        ("ivf", ivf),
        ("pq_adc", pq),
    ):
        h = hits_df.join(exact, ["q_id", id_col]).agg(
            F.count(F.lit(1)).alias("hits")
        ).select(
            F.lit(name).alias("method"),
            F.col("hits").cast("long").alias("hits"),
            F.lit(possible).cast("long").alias("possible"),
            F.round(F.col("hits") / F.lit(float(possible)), 6).alias(
                "recall"
            ),
        )
        out = h if out is None else out.unionAll(h)
    return out


def ndcg_gain_table(k: int) -> list[float]:
    """Rank-discount gains for NDCG@k as 6-dp literals: ``g[i] =
    round(1/log2(i+2), 6)`` for rank i+1.  Computed driver-side once so
    Spark and the DuckDB oracle consume the IDENTICAL constants — no
    cross-engine log() in the hot path."""
    import math

    return [round(1.0 / math.log2(r + 1), 6) for r in range(1, k + 1)]


def retrieval_quality_report(
    df: DataFrame,
    *,
    n_queries: int = 10,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Label-relevance retrieval metrics over exact cosine top-k:
    (q_id, n_rel_topk, total_rel, precision_at_k, mrr, ndcg_at_k) — the
    search-quality scorecard (MRR / P@k / NDCG@k) that sits next to
    ``ann_recall_report``'s index-selection recall: recall tells you how
    faithful the ANN is to exact search, THIS tells you whether exact
    search itself surfaces relevant items (relevance = shared label,
    self-match excluded so rank 1 isn't a freebie).

    EVAL-ONLY shape like the recall harness: ground truth is an
    ``n_queries × corpus`` scored cross join — fine for a sampled eval,
    never a production probe.  Everything else is one window + one
    aggregate per query group.

    Determinism: ranks order on 6-dp-rounded cosine with id tie-breaks;
    DCG sums 6-dp literal gains as exact decimals; NDCG divides the two
    decimal sums in double and rounds to 6 dp.  The ideal-DCG lookup is
    a driver-side prefix-sum literal indexed by min(k, total_rel), so
    both engines read the same constant."""
    gains = ndcg_gain_table(k)
    # prefix sums of the gain table: idcg for j relevant items in top-k
    cum = []
    acc = 0.0
    for g in gains:
        acc = round(acc + g, 6)
        cum.append(acc)

    qs = (
        df.orderBy(F.col(id_col))
        .limit(n_queries)
        .select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).alias("q_vec"),
            F.col(label_col).alias("q_label"),
        )
        .localCheckpoint(eager=False)
    )
    base = df.select(id_col, vec_col, label_col).localCheckpoint(
        eager=False
    )
    # total relevant per query label (excluding the query row itself):
    # a broadcastable |labels|-row aggregate, not a per-query pass
    label_n = base.groupBy(label_col).agg(
        F.count(F.lit(1)).alias("n_label")
    )
    cos = F.coalesce(
        F.round(cosine(F.col("q_vec"), F.col(vec_col)), 6), F.lit(-2.0)
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("s"), F.asc(id_col))
    topk = (
        qs.crossJoin(base)
        .filter(F.col(id_col) != F.col("q_id"))
        .select(
            "q_id",
            "q_label",
            F.col(id_col),
            F.col(label_col).alias("r_label"),
            cos.alias("s"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    rel = (F.col("r_label") == F.col("q_label")).cast("int")
    gain = F.element_at(F.lit(gains), F.col("rank")).cast(
        "decimal(12,6)"
    )
    per_q = topk.groupBy("q_id", "q_label").agg(
        F.sum(rel).alias("n_rel_topk"),
        F.sum(F.when(rel == 1, gain).otherwise(F.lit(0).cast("decimal(12,6)")))
        .alias("dcg_dec"),
        F.min(F.when(rel == 1, F.col("rank"))).alias("first_rel"),
    )
    return (
        per_q.join(
            F.broadcast(label_n),
            per_q.q_label == label_n[label_col],
        )
        .select(
            "q_id",
            F.col("n_rel_topk").cast("long").alias("n_rel_topk"),
            # the query's own row never counts as retrievable
            (F.col("n_label") - 1).cast("long").alias("total_rel"),
            F.round(
                F.col("n_rel_topk") / F.lit(float(k)), 6
            ).alias("precision_at_k"),
            F.round(
                F.coalesce(
                    1.0 / F.col("first_rel").cast("double"), F.lit(0.0)
                ),
                6,
            ).alias("mrr"),
            F.when(
                (F.col("n_label") - 1) <= 0, F.lit(0.0)
            ).otherwise(
                F.round(
                    F.col("dcg_dec").cast("double")
                    / F.element_at(
                        F.lit(cum),
                        F.least(
                            F.lit(k), F.col("n_label") - 1
                        ).cast("int"),
                    ),
                    6,
                )
            ).alias("ndcg_at_k"),
        )
    )


def rrf_fuse(
    ranked: list[DataFrame],
    *,
    k: int = 10,
    c: int = 60,
    id_col: str = "vec_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion over any number of ranked lists
    (Cormack et al. 2009): ``score(d) = Σ 1/(c + rank_i(d))`` — the
    standard zero-tuning way to combine lexical (BM25) and vector
    (cosine/ANN) retrieval into hybrid search.  → (vec_id, rrf_score,
    rank).

    Determinism: each contribution is round(1/(c+rank), 6) as exact
    DECIMAL — ranks are small integers, so the quotient is the identical
    double in every engine — summed order-independently; final ranking
    orders on the exact decimal sum with id tie-breaks.  Scale: the
    inputs are already top-k lists (k rows each), so fusion is
    driver-trivial relative to retrieval; expressed relationally anyway
    so it composes into one plan."""
    if not ranked:
        raise ValueError("rrf_fuse needs >= 1 ranked list")
    contribs = [
        r.select(
            F.col(id_col).alias("vec_id"),
            F.round(
                F.lit(1.0) / (F.lit(float(c)) + F.col(rank_col)), 6
            )
            .cast("decimal(18,6)")
            .alias("contrib"),
        )
        for r in ranked
    ]
    allc = contribs[0]
    for nxt in contribs[1:]:
        allc = allc.unionByName(nxt)
    scored = allc.groupBy("vec_id").agg(
        F.sum("contrib").alias("rrf_dec")
    )
    top = scored.orderBy(F.desc("rrf_dec"), F.asc("vec_id")).limit(k)
    w = Window.orderBy(F.desc("rrf_dec"), F.asc("vec_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "vec_id",
        F.col("rrf_dec").cast("double").alias("rrf_score"),
        F.col("rank").cast("long").alias("rank"),
    )


def contrastive_hard_negatives(
    emb,
    *,
    k: int = 4,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
):
    """Deterministic HARD-negative mining for contrastive training:
    (anchor_id, negative_id, neg_rank) — for every anchor, the k
    most-confusable OTHER vectors drawn from its sign-LSH bucket
    (same-bucket vectors share the anchor's coarse direction — the
    standard "hard negatives live near the anchor" recipe, e.g. DPR /
    SimCLR-style sampling, computed relationally instead of per-batch
    at training time).

    Determinism contract: candidate order inside a bucket is the md5
    pair hash (anchor, candidate) — stable across runs, partitionings
    and engines — so the sampled negative SET is reproducible, which is
    what makes a training corpus auditable.  Shape: one bucket
    equi-join (never all-pairs) + a per-anchor top-k window over bucket
    rows; bucket population is 2^bits-bounded in expectation, and a
    degenerate hot bucket is visible in the neg_rank distribution.
    """
    from pyspark.sql import Window

    from inception_spark.functions.hashing import h28

    if dim is None:
        dim = len(emb.select(vec_col).head()[0])
    planes = lsh_hyperplanes(dim, bits=bits)
    withb = emb.select(
        F.col(id_col).alias("_id"),
        lsh_bucket_expr(F.col(vec_col), planes).alias("_bk"),
    )
    a = withb.select(
        F.col("_id").alias("anchor_id"), F.col("_bk").alias("bk")
    )
    b = withb.select(
        F.col("_id").alias("negative_id"), F.col("_bk").alias("bk")
    )
    pairs = a.join(b, "bk").filter(
        F.col("anchor_id") != F.col("negative_id")
    )
    w = Window.partitionBy("anchor_id").orderBy("ph", "negative_id")
    return (
        pairs.withColumn(
            "ph",
            h28(
                F.concat_ws(
                    "\x1f",
                    F.col("anchor_id").cast("string"),
                    F.col("negative_id").cast("string"),
                )
            ),
        )
        .withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= k)
        .select(
            "anchor_id",
            "negative_id",
            F.col("neg_rank").cast("long").alias("neg_rank"),
        )
    )


def maxsim_topk(
    df: DataFrame,
    query_vec: list[float],
    *,
    k: int = 10,
    n_subvecs: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Late-interaction (multi-vector, ColBERT-style) retrieval: each
    side is a BAG of token vectors and score(doc) = Σ over query tokens
    of the MAX cosine to any doc token — the MaxSim operator.  Bag
    semantics catch partial topical matches that one pooled vector
    averages away, which is why late-interaction rankers beat
    single-vector retrieval on long documents.

    Token vectors here are derived by slicing the stored embedding into
    ``n_subvecs`` contiguous subvectors (deterministic fixture shaping;
    a real multi-vector table feeds the same shapes).  Because the
    query's token vectors are LITERALS, the whole scorer compiles to a
    map-only codegen expression — per doc: n×n cosines, a ``greatest``
    per query token, one fixed-order sum — with NO explode, NO join,
    NO shuffle before the distributed top-k (TakeOrderedAndProject).
    At 100 TB this scans with the same economics as cosine_topk; the
    candidate-generation step for a real corpus is the existing
    LSH/IVF pruning over the POOLED vector, with MaxSim as reranker
    (the standard two-stage serving shape, cf. pq_topk_rerank).

    Score is rounded to 6 decimals BEFORE ranking (engine-exact
    ordering); the sum is a fixed left-to-right chain so Spark and the
    SQL twin add in the same IEEE order.
    """
    import operator
    from functools import reduce

    dim = len(query_vec)
    if dim % n_subvecs:
        raise ValueError("maxsim_topk: dim must divide by n_subvecs")
    sub = dim // n_subvecs
    doc_slices = [
        F.slice(F.col(vec_col), s * sub + 1, sub)
        for s in range(n_subvecs)
    ]
    per_q = []
    for s in range(n_subvecs):
        qlit = _query_vec_col(query_vec[s * sub:(s + 1) * sub])
        per_q.append(F.greatest(*[cosine(d, qlit) for d in doc_slices]))
    score = F.round(reduce(operator.add, per_q), 6)
    scored = df.select(
        F.col(id_col).alias("vec_id"), score.alias("score")
    )
    top = scored.orderBy(F.desc("score"), F.asc("vec_id")).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc("vec_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "vec_id", "score", F.col("rank").cast("long").alias("rank")
    )


def maxsim_topk_sql(
    table: str,
    query_vec: list[float],
    *,
    k: int = 10,
    n_subvecs: int = 4,
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`maxsim_topk`: identical slicing, identical
    greatest-then-fixed-order-sum, 6-dp round before ranking."""
    from inception_spark.functions.vectors import cosine_sql

    dim = len(query_vec)
    sub = dim // n_subvecs
    per_q = []
    for s in range(n_subvecs):
        qlit = (
            "["
            + ", ".join(f"{float(x)!r}" for x in
                        query_vec[s * sub:(s + 1) * sub])
            + "]"
        )
        cosines = [
            cosine_sql(
                f"{vec_col}[{d * sub + 1}:{(d + 1) * sub}]", qlit
            )
            for d in range(n_subvecs)
        ]
        per_q.append("greatest(" + ", ".join(cosines) + ")")
    chain = per_q[0]
    for t in per_q[1:]:
        chain = f"({chain} + {t})"
    return f"""
SELECT vec_id, score,
       CAST(row_number() OVER (ORDER BY score DESC, vec_id) AS BIGINT)
         AS rank
FROM (SELECT vec_id, round({chain}, 6) AS score FROM {table})
ORDER BY score DESC, vec_id LIMIT {k}
"""


def ivf_balance_report(
    df: DataFrame,
    *,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Index-build diagnostics for the IVF layout — the ANN analog of
    join_skew_report: per-cell vector counts plus each cell's
    imbalance factor (n_vecs / fair share).  A probe's cost is the
    size of the cells it reads, so one hot cell silently destroys the
    n_probe/n_centroids scan-fraction promise; this report is how you
    catch that (and pick n_centroids) BEFORE materializing a 100 TB
    layout with write_ivf_layout.  Empty cells appear with zero counts
    — they waste a centroid and signal n_centroids is too high for the
    data's cluster structure.

    Cost: the same one assignment pass the index build itself does
    (broadcast centroids, argmax) + a k-row aggregate; all counts are
    exact integers, the two ratios are single double divides of
    integers (engine-exact)."""
    cent, cell = _ivf_cells(
        df, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col
    )
    counts = cell.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs")
    )
    spine = cent.select("cid").join(counts, "cid", "left").select(
        "cid", F.coalesce("n_vecs", F.lit(0)).cast("long").alias("n_vecs")
    )
    total = spine.agg(F.sum("n_vecs").alias("t"))
    return (
        spine.crossJoin(F.broadcast(total))
        .select(
            F.col("cid").cast("long").alias("cid"),
            "n_vecs",
            F.round(F.col("n_vecs") / F.col("t"), 6).alias("frac"),
            F.round(
                F.col("n_vecs") * F.lit(n_centroids) / F.col("t"), 6
            ).alias("imbalance"),
        )
    )


def mmr_rerank(
    df: DataFrame,
    query_vec: list[float],
    *,
    k: int = 8,
    pool: int = 40,
    lambda_milli: int = 700,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR'98) — the diversified top-k every retrieval-augmented serving
    stack puts between ANN and the prompt: greedily pick the candidate
    maximizing ``λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s)`` so near-duplicate
    hits don't crowd out coverage.  Output ``(rank, vec_id, rel_micro)``.

    Determinism: relevance and pairwise similarity are micro-integer
    cosines (round(cos·10⁶) — the repo's round-before-rank discipline),
    the MMR score is pure integer arithmetic
    ``lambda_milli·rel − (1000−lambda_milli)·maxsim``, and every argmax
    is an ``orderBy(score DESC, id).limit(1)`` over the pool-sized
    table — smallest-id tie-break, TakeOrdered plan.

    Scale shape: stage 1 is the distributed part — the ``pool``-sized
    candidate set arrives via TakeOrderedAndProject over the full
    corpus scan (cosine_topk's economics).  The greedy loop is
    inherently sequential in k, but every round touches only
    pool × |selected| ≤ pool·k rows — control-plane-sized by
    construction (the pool IS the knob), expressed as k in-plan rounds
    with lazy localCheckpoint, never a driver loop over collected
    vectors."""
    if not 1 <= k <= pool:
        raise ValueError("need 1 <= k <= pool")
    if not 0 <= lambda_milli <= 1000:
        raise ValueError("lambda_milli in [0, 1000]")
    cand = (
        df.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("v"),
            F.round(_cosine_to_query(vec_col, query_vec) * 1e6, 0)
            .cast("long")
            .alias("rel"),
        )
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(int(pool))
        .localCheckpoint(eager=False)
    )
    first = (
        cand.orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(1)
        .select("vec_id", "v", "rel", F.lit(1).alias("rank"))
    )
    sel = first.localCheckpoint(eager=False)
    lam, mu = int(lambda_milli), 1000 - int(lambda_milli)
    for r in range(2, int(k) + 1):
        rem = cand.join(sel.select("vec_id"), "vec_id", "left_anti")
        scored = (
            rem.alias("c")
            .join(sel.alias("s"))
            .groupBy("c.vec_id", "c.rel")
            .agg(
                F.max(
                    F.round(
                        cosine(F.col("c.v"), F.col("s.v")) * 1e6, 0
                    ).cast("long")
                ).alias("maxsim")
            )
            .select(
                "vec_id",
                "rel",
                (F.lit(lam) * F.col("rel")
                 - F.lit(mu) * F.col("maxsim")).alias("score"),
            )
        )
        pick = (
            scored.orderBy(F.desc("score"), F.asc("vec_id"))
            .limit(1)
            .select("vec_id")
            .join(cand, "vec_id")
            .select("vec_id", "v", "rel", F.lit(r).alias("rank"))
        )
        sel = sel.unionByName(pick).localCheckpoint(eager=False)
    return sel.select(
        F.col("rank").cast("long").alias("rank"),
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("rel").alias("rel_micro"),
    )


def mmr_rerank_sql(
    emb_table: str,
    query_sql: str,
    *,
    k: int = 8,
    pool: int = 40,
    lambda_milli: int = 700,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`mmr_rerank` — the identical greedy rounds
    unrolled into MATERIALIZED CTEs (the hits_sql convention).
    ``query_sql`` must select one row with a ``qv`` list column."""
    from inception_spark.functions.vectors import cosine_sql

    lam, mu = int(lambda_milli), 1000 - int(lambda_milli)
    rel = cosine_sql(vec_col, "qv")
    sim = cosine_sql("c.v", "s.v")
    rounds = []
    prev = "s1"
    for r in range(2, int(k) + 1):
        rounds.append(f"""
pick{r} AS MATERIALIZED (
  SELECT vec_id, v, rel FROM (
    SELECT c.vec_id, c.v, c.rel,
           {lam} * c.rel - {mu} * MAX(
             CAST(round({sim} * 1e6, 0) AS BIGINT)) AS score
    FROM pool c CROSS JOIN {prev} s
    WHERE c.vec_id NOT IN (SELECT vec_id FROM {prev})
    GROUP BY c.vec_id, c.v, c.rel
    ORDER BY score DESC, c.vec_id ASC LIMIT 1)),
s{r} AS MATERIALIZED (
  SELECT * FROM {prev}
  UNION ALL
  SELECT vec_id, v, rel, {r} AS rank FROM pick{r})""")
        prev = f"s{r}"
    return f"""
WITH q AS MATERIALIZED ({query_sql}),
pool AS MATERIALIZED (
  SELECT {id_col} AS vec_id, {vec_col} AS v,
         CAST(round({rel} * 1e6, 0) AS BIGINT) AS rel
  FROM {emb_table}, q
  ORDER BY rel DESC, vec_id ASC LIMIT {int(pool)}),
s1 AS MATERIALIZED (
  SELECT vec_id, v, rel, 1 AS rank FROM pool
  ORDER BY rel DESC, vec_id ASC LIMIT 1){',' if rounds else ''}
{','.join(rounds)}
SELECT CAST(rank AS BIGINT) AS rank,
       CAST(vec_id AS BIGINT) AS vec_id,
       rel AS rel_micro
FROM {prev}
"""


def _sign_code_expr(vec_col: str, lo_bit: int, n_bits: int):
    """Sign-bit pack of ``n_bits`` vector components starting at
    ``lo_bit`` into one non-negative int64 (bit i set iff component
    lo_bit+i > 0) — disjoint bits, so the fold is a plain OR."""
    return F.expr(
        f"aggregate(sequence(0, {n_bits - 1}), 0L, (acc, i) -> "
        f"acc | IF(element_at({vec_col}, i + {lo_bit + 1}) > 0, "
        f"shiftleft(1L, i), 0L))"
    )


def _sign_code_sql(vec_col: str, lo_bit: int, n_bits: int) -> str:
    """DuckDB twin of :func:`_sign_code_expr` (sum of disjoint bits ==
    OR; kept under bit 62 so BIGINT shifts never overflow)."""
    return (
        f"CAST(list_sum(list_transform(range(0, {n_bits}), i -> "
        f"CASE WHEN {vec_col}[i + {lo_bit + 1}] > 0 "
        f"THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS BIGINT)"
    )


def binary_quantize_topk(
    df: DataFrame,
    query_vec: list[float],
    *,
    k: int = 10,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Binary (sign) quantization ANN — the 1-bit-per-dimension probe
    every modern vector store ships (32× smaller than float32, Hamming
    distance = one XOR + popcount per 64 dims): pack each vector's
    sign bits into two 32-bit words, scan by
    ``bit_count(xor(...)) + bit_count(xor(...))`` (pure whole-stage
    codegen — integer ops, no float math in the scan), take the
    ``rerank_factor·k`` closest by (hamming, id), and re-rank that
    small set by exact rounded cosine.  Output (vec_id, hamming, score,
    rank).

    100 TB shape: the probe scan reads two int64 columns per vector —
    at a billion vectors that is 16 GB, not 256 GB of float32; both
    top-k stages plan TakeOrderedAndProject.  Materialize the codes
    write-once (the sq_topk_codes discipline) and the steady-state
    probe never touches the float column except for the
    ``rerank_factor·k`` survivors."""
    dim = len(query_vec)
    if dim % 2 or dim > 124:
        raise ValueError("binary_quantize_topk packs 2 words <= 62 bits")
    half = dim // 2
    q_lo = sum(
        1 << i for i in range(half) if float(query_vec[i]) > 0
    )
    q_hi = sum(
        1 << i
        for i in range(half)
        if float(query_vec[half + i]) > 0
    )
    coded = df.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("v"),
        _sign_code_expr(vec_col, 0, half).alias("c_lo"),
        _sign_code_expr(vec_col, half, half).alias("c_hi"),
    ).withColumn(
        "hamming",
        (
            F.bit_count(
                F.col("c_lo").bitwiseXOR(F.lit(q_lo).cast("long"))
            )
            + F.bit_count(
                F.col("c_hi").bitwiseXOR(F.lit(q_hi).cast("long"))
            )
        ).cast("long"),
    )
    cand = coded.orderBy(F.asc("hamming"), F.asc("vec_id")).limit(
        int(rerank_factor) * int(k)
    )
    reranked = cand.select(
        "vec_id",
        "hamming",
        F.round(_cosine_to_query("v", query_vec), 6).alias("score"),
    ).orderBy(F.desc("score"), F.asc("vec_id")).limit(int(k))
    w = Window.orderBy(F.desc("score"), F.asc("vec_id"))
    return reranked.withColumn(
        "rank", F.row_number().over(w).cast("long")
    )


def binary_quantize_topk_sql(
    emb_table: str,
    query_sql: str,
    *,
    k: int = 10,
    rerank_factor: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`binary_quantize_topk`.  ``query_sql`` must
    select one row with a ``qv`` list column of the same dim."""
    from inception_spark.functions.vectors import cosine_sql

    if dim % 2 or dim > 124:
        raise ValueError("binary_quantize_topk packs 2 words <= 62 bits")
    half = dim // 2
    return f"""
WITH q AS MATERIALIZED (
  SELECT qv, {_sign_code_sql('qv', 0, half)} AS q_lo,
         {_sign_code_sql('qv', half, half)} AS q_hi
  FROM ({query_sql})),
coded AS (
  SELECT {id_col} AS vec_id, {vec_col} AS v,
         {_sign_code_sql(vec_col, 0, half)} AS c_lo,
         {_sign_code_sql(vec_col, half, half)} AS c_hi
  FROM {emb_table}),
cand AS (
  SELECT c.vec_id, c.v,
         CAST(bit_count(xor(c.c_lo, q.q_lo))
              + bit_count(xor(c.c_hi, q.q_hi)) AS BIGINT) AS hamming
  FROM coded c, q
  ORDER BY hamming ASC, vec_id ASC LIMIT {int(rerank_factor) * int(k)}),
rr AS (
  SELECT vec_id, hamming,
         round({cosine_sql('v', 'qv')}, 6) AS score
  FROM cand, q
  ORDER BY score DESC, vec_id ASC LIMIT {int(k)})
SELECT vec_id, hamming, score,
       CAST(row_number() OVER (ORDER BY score DESC, vec_id ASC)
            AS BIGINT) AS rank
FROM rr
"""


def write_binary_codes(
    df: DataFrame,
    path: str,
    *,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the write-once binary-quantization layout: one
    parquet of (vec_id, c_lo, c_hi) sign words — 16 bytes/vector.  The
    steady-state probe (:func:`binary_topk_over_codes`) scans ONLY this
    table; the float corpus is never touched again until a rerank
    wants the survivors (the sq_topk_codes discipline applied to 1-bit
    codes)."""
    if dim % 2 or dim > 124:
        raise ValueError("binary codes pack 2 words <= 62 bits")
    half = dim // 2
    (
        df.select(
            F.col(id_col).alias("vec_id"),
            _sign_code_expr(vec_col, 0, half).alias("c_lo"),
            _sign_code_expr(vec_col, half, half).alias("c_hi"),
        )
        .write.mode("overwrite")
        .parquet(path)
    )


def binary_topk_over_codes(
    spark,
    path: str,
    query_vec: list[float],
    *,
    k: int = 10,
) -> DataFrame:
    """Codes-only Hamming top-k over a :func:`write_binary_codes`
    layout — (vec_id, hamming, rank), ties on id.  The scan reads 16
    bytes/vector and stays integer codegen end to end; plan pinned to
    exclude any float column."""
    dim = len(query_vec)
    half = dim // 2
    q_lo = sum(1 << i for i in range(half) if float(query_vec[i]) > 0)
    q_hi = sum(
        1 << i for i in range(half) if float(query_vec[half + i]) > 0
    )
    codes = spark.read.parquet(path)
    scored = codes.select(
        "vec_id",
        (
            F.bit_count(
                F.col("c_lo").bitwiseXOR(F.lit(q_lo).cast("long"))
            )
            + F.bit_count(
                F.col("c_hi").bitwiseXOR(F.lit(q_hi).cast("long"))
            )
        ).cast("long").alias("hamming"),
    )
    top = scored.orderBy(F.asc("hamming"), F.asc("vec_id")).limit(int(k))
    w = Window.orderBy(F.asc("hamming"), F.asc("vec_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def binary_hamming_topk_sql(
    emb_table: str,
    query_sql: str,
    *,
    k: int = 10,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`binary_topk_over_codes` — replays the sign
    words from the float table (the codes file IS that derivation, so
    bit-identity is by construction)."""
    half = dim // 2
    return f"""
WITH q AS MATERIALIZED (
  SELECT {_sign_code_sql('qv', 0, half)} AS q_lo,
         {_sign_code_sql('qv', half, half)} AS q_hi
  FROM ({query_sql})),
coded AS (
  SELECT {id_col} AS vec_id,
         {_sign_code_sql(vec_col, 0, half)} AS c_lo,
         {_sign_code_sql(vec_col, half, half)} AS c_hi
  FROM {emb_table}),
top AS (
  SELECT c.vec_id,
         CAST(bit_count(xor(c.c_lo, q.q_lo))
              + bit_count(xor(c.c_hi, q.q_hi)) AS BIGINT) AS hamming
  FROM coded c, q
  ORDER BY hamming ASC, vec_id ASC LIMIT {int(k)})
SELECT vec_id, hamming,
       CAST(row_number() OVER (ORDER BY hamming ASC, vec_id ASC)
            AS BIGINT) AS rank
FROM top
"""


def margin_mine_pairs(
    a_df: DataFrame,
    b_df: DataFrame,
    *,
    k: int = 4,
    threshold: float = 1.05,
    a_id: str = "a_id",
    a_vec: str = "a_vec",
    b_id: str = "b_id",
    b_vec: str = "b_vec",
    block_on: tuple[str, str] | None = None,
) -> DataFrame:
    """Margin-based pair mining between two embedding sets — the
    bitext-mining scorer behind the big public parallel corpora
    (Artetxe & Schwenk 2019's ratio margin; CCMatrix/ParaCrawl
    pipelines): margin(x, y) = cos(x, y) / ((avgNNk(x) + avgNNk(y))/2),
    keep the MUTUAL best pair per side at margin ≥ ``threshold``.  The
    neighborhood normalization is the point — it suppresses hub vectors
    that are everyone's nearest neighbor, which raw cosine thresholds
    cannot.

    ``block_on=(a_col, b_col)`` restricts candidates to matching blocks
    (language-cluster shard, LSH bucket, IVF cell) — the 100 TB path,
    an equi-join that never goes all-pairs; neighborhoods are then
    block-local, the standard approximate-kNN margin used in practice
    (FAISS-style).  ``None`` falls back to the warned full cross join
    (small sets only — same opt-in precedent as :func:`knn_join`).

    Determinism: per-pair cosine is rounded to 9 dp, neighborhood sums
    are decimal(28,9) (order-free), and the margin is one double
    divide of engine-identical operands, so ranks and the mutual-best
    set replay exactly in the oracle.  Non-positive neighborhood
    averages yield NULL margins (filtered) — cosine can be negative
    and a ratio against a non-positive baseline is meaningless."""
    if block_on is None:
        import warnings

        warnings.warn(
            "margin_mine_pairs(block_on=None) computes a FULL |A|x|B| "
            "cross join; at scale block both sides (LSH bucket / IVF "
            "cell / language shard) and pass block_on",
            stacklevel=2,
        )
    cond = (
        F.col(f"a.{block_on[0]}") == F.col(f"b.{block_on[1]}")
        if block_on
        else F.lit(True)
    )
    from inception_spark.functions.vectors import norm

    # hoist the row norms OUT of the pair loop: cosine() would fold
    # both 64-element norms per PAIR (O(|pairs|·dim) redundant
    # higher-order-function work — HOFs don't whole-stage-codegen);
    # computed per ROW and joined through, the den = norm_a·norm_b
    # product and the divide are the IDENTICAL IEEE ops in the same
    # order, so scores are bit-equal to cosine() and the SQL twin
    an = a_df.withColumn("_na", norm(F.col(a_vec)))
    bn = b_df.withColumn("_nb", norm(F.col(b_vec)))
    den = F.col("a._na") * F.col("b._nb")
    pairs = (
        an.alias("a")
        .join(bn.alias("b"), cond)
        .select(
            F.col(f"a.{a_id}").alias("a_id"),
            F.col(f"b.{b_id}").alias("b_id"),
            F.round(
                F.when(
                    den != 0.0,
                    dot(F.col(f"a.{a_vec}"), F.col(f"b.{b_vec}")) / den,
                ),
                9,
            ).alias("s"),
        )
        .filter(F.col("s").isNotNull())
        # the scored-pair table feeds BOTH neighborhood aggregates and
        # the margin join — cut lineage once so the block join + dot
        # fold isn't recomputed three times downstream
        .localCheckpoint(eager=False)
    )
    wa = Window.partitionBy("a_id").orderBy(F.desc("s"), F.asc("b_id"))
    wb = Window.partitionBy("b_id").orderBy(F.desc("s"), F.asc("a_id"))
    sdec = F.col("s").cast("decimal(28,9)")
    na = (
        pairs.withColumn("_r", F.row_number().over(wa))
        .filter(F.col("_r") <= k)
        .groupBy("a_id")
        .agg(F.sum(sdec).alias("num_a"),
             F.count(F.lit(1)).alias("cnt_a"))
    )
    nb = (
        pairs.withColumn("_r", F.row_number().over(wb))
        .filter(F.col("_r") <= k)
        .groupBy("b_id")
        .agg(F.sum(sdec).alias("num_b"),
             F.count(F.lit(1)).alias("cnt_b"))
    )
    denom = (
        F.col("num_a").cast("double") / F.col("cnt_a")
        + F.col("num_b").cast("double") / F.col("cnt_b")
    ) / F.lit(2.0)
    m = (
        pairs.join(na, "a_id")
        .join(nb, "b_id")
        .select(
            "a_id", "b_id", "s",
            F.when(denom > 0, F.col("s") / denom).alias("margin"),
        )
        .filter(F.col("margin").isNotNull())
    )
    wfa = Window.partitionBy("a_id").orderBy(F.desc("margin"), F.asc("b_id"))
    wfb = Window.partitionBy("b_id").orderBy(F.desc("margin"), F.asc("a_id"))
    fwd = (
        m.withColumn("_rf", F.row_number().over(wfa))
        .filter(F.col("_rf") == 1)
        .select("a_id", "b_id", "s", "margin")
    )
    bwd = (
        m.withColumn("_rb", F.row_number().over(wfb))
        .filter(F.col("_rb") == 1)
        .select("a_id", "b_id")
    )
    return (
        fwd.join(bwd, ["a_id", "b_id"])
        .filter(F.round("margin", 6) >= F.lit(float(threshold)))
        .select(
            "a_id", "b_id",
            F.round("s", 6).alias("cosine"),
            F.round("margin", 6).alias("margin"),
        )
    )


def margin_mine_pairs_sql(
    *,
    k: int = 4,
    threshold: float = 1.05,
    table: str = "embeddings",
    split_expr: str = "vec_id % 2",
    block_col: str = "label",
) -> str:
    """DuckDB twin of :func:`margin_mine_pairs` over a single embedding
    table split into A/B by ``split_expr`` (0 → A, else B), blocked on
    ``block_col`` — identical 9-dp scores, decimal neighborhood sums,
    double margins, and mutual-best windows."""
    from inception_spark.functions.vectors import dot_sql, norm_sql

    d = dot_sql("a.a_vec", "b.b_vec")
    return f"""
WITH a AS (SELECT vec_id AS a_id, embedding AS a_vec,
                  {norm_sql('embedding')} AS na, {block_col} AS blk
           FROM {table} WHERE {split_expr} = 0),
b AS (SELECT vec_id AS b_id, embedding AS b_vec,
             {norm_sql('embedding')} AS nb, {block_col} AS blk
      FROM {table} WHERE {split_expr} <> 0),
pairs0 AS (
  SELECT a.a_id, b.b_id,
         round(CASE WHEN a.na * b.nb <> 0
                    THEN {d} / (a.na * b.nb) END, 9) AS s
  FROM a JOIN b ON a.blk = b.blk),
pairs AS (SELECT * FROM pairs0 WHERE s IS NOT NULL),
na AS (
  SELECT a_id, SUM(CAST(s AS DECIMAL(28,9))) AS num_a, COUNT(*) AS cnt_a
  FROM (SELECT a_id, s,
               row_number() OVER (PARTITION BY a_id
                                  ORDER BY s DESC, b_id) AS r
        FROM pairs) WHERE r <= {int(k)} GROUP BY a_id),
nb AS (
  SELECT b_id, SUM(CAST(s AS DECIMAL(28,9))) AS num_b, COUNT(*) AS cnt_b
  FROM (SELECT b_id, s,
               row_number() OVER (PARTITION BY b_id
                                  ORDER BY s DESC, a_id) AS r
        FROM pairs) WHERE r <= {int(k)} GROUP BY b_id),
m AS (
  SELECT p.a_id, p.b_id, p.s,
         CASE WHEN (CAST(na.num_a AS DOUBLE) / na.cnt_a
                    + CAST(nb.num_b AS DOUBLE) / nb.cnt_b) / 2.0 > 0
              THEN p.s / ((CAST(na.num_a AS DOUBLE) / na.cnt_a
                           + CAST(nb.num_b AS DOUBLE) / nb.cnt_b) / 2.0)
         END AS margin
  FROM pairs p
  JOIN na ON na.a_id = p.a_id
  JOIN nb ON nb.b_id = p.b_id),
mm AS (SELECT * FROM m WHERE margin IS NOT NULL),
fwd AS (
  SELECT a_id, b_id, s, margin,
         row_number() OVER (PARTITION BY a_id
                            ORDER BY margin DESC, b_id) AS rf
  FROM mm),
bwd AS (
  SELECT a_id, b_id,
         row_number() OVER (PARTITION BY b_id
                            ORDER BY margin DESC, a_id) AS rb
  FROM mm)
SELECT f.a_id, f.b_id, round(f.s, 6) AS cosine,
       round(f.margin, 6) AS margin
FROM fwd f JOIN bwd USING (a_id, b_id)
WHERE f.rf = 1 AND bwd.rb = 1
  AND round(f.margin, 6) >= CAST({threshold!r} AS DOUBLE)
"""
