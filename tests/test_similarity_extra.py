

def test_mmr_rerank_matches_greedy_reference_and_diversifies(spark):
    """MMR vs a brute-force python greedy on planted vectors: the top
    relevance hit's near-duplicate must NOT take rank 2 (a plain top-k
    would rank it second), and the full selection equals the reference
    implementation exactly."""
    import math

    from inception_spark.operators.similarity import mmr_rerank

    def unit(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    q = [1.0, 0.0, 0.0, 0.0]
    vecs = {
        0: unit([1.0, 0.01, 0.0, 0.0]),   # best hit
        1: unit([1.0, 0.011, 0.0, 0.0]),  # near-dup of 0 (sim ~ 1.0)
        2: unit([0.7, 0.0, 0.714, 0.0]),  # diverse (orthogonal part)
        3: unit([0.6, 0.0, 0.0, 0.8]),    # diverse on another axis
        4: unit([0.1, 0.0, 0.0, 1.0]),    # weak rel
    }
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()],
        "vec_id long, embedding array<double>",
    )
    got = sorted(
        (r["rank"], r["vec_id"])
        for r in mmr_rerank(
            df, q, k=4, pool=5, lambda_milli=500
        ).collect()
    )

    def cos_micro(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(d / (na * nb) * 1e6)

    rel = {i: cos_micro(v, q) for i, v in vecs.items()}
    sel = [max(sorted(rel), key=lambda i: (rel[i], -i))]
    while len(sel) < 4:
        best, best_score = None, None
        for c in sorted(vecs):
            if c in sel:
                continue
            ms = max(cos_micro(vecs[c], vecs[s]) for s in sel)
            score = 500 * rel[c] - 500 * ms
            if best_score is None or score > best_score:
                best, best_score = c, score
        sel.append(best)
    assert got == [(i + 1, v) for i, v in enumerate(sel)]
    ranks = dict(got)
    assert ranks[1] == 0               # top relevance first
    assert ranks.get(2) != 1           # near-dup demoted below rank 2


def test_binary_codes_probe_reads_codes_only(spark, tmp_path):
    """The codes-only probe's scan must not touch the float column, and
    its top-k must equal the in-plan quantized Hamming ranking."""
    from inception_spark.operators.similarity import (
        binary_quantize_topk,
        binary_topk_over_codes,
        write_binary_codes,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = list(emb.filter("vec_id = 0").select("embedding").head()[0])
    path = str(tmp_path / "codes")
    write_binary_codes(emb, path, dim=len(qv))
    out = binary_topk_over_codes(spark, path, qv, k=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "embedding" not in plan  # 16 bytes/vector, nothing else
    assert "TakeOrdered" in plan
    got = [(r["vec_id"], r["hamming"]) for r in out.collect()]
    # the in-plan variant's candidate stage uses the same ordering; its
    # top-10 by hamming (rerank_factor=1 disables the cosine widening)
    ref = [
        (r["vec_id"], r["hamming"])
        for r in sorted(
            binary_quantize_topk(
                emb, qv, k=10, rerank_factor=1
            ).collect(),
            key=lambda r: (r["hamming"], r["vec_id"]),
        )
    ]
    assert got == ref


def test_margin_mine_pairs_matches_numpy_reference(spark):
    """margin_mine_pairs == an independent numpy replica of the ratio
    margin (9-dp scores, k-NN averages, mutual best, threshold) on a
    deterministic two-block fixture — formula drift in either the
    Spark path or the SQL twin's shared design shows up here."""
    import numpy as np

    from inception_spark.operators.similarity import margin_mine_pairs

    rng = np.random.RandomState(7)
    dim, n = 8, 30
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    rows = [
        (int(i), [float(x) for x in vecs[i]], int(i % 3 // 2))
        for i in range(n)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    a = df.filter("vec_id % 2 = 0").selectExpr(
        "vec_id AS a_id", "embedding AS a_vec", "label AS a_blk"
    )
    b = df.filter("vec_id % 2 = 1").selectExpr(
        "vec_id AS b_id", "embedding AS b_vec", "label AS b_blk"
    )
    got = {
        (r["a_id"], r["b_id"]): (r["cosine"], r["margin"])
        for r in margin_mine_pairs(
            a, b, k=3, threshold=1.0, block_on=("a_blk", "b_blk")
        ).collect()
    }

    # numpy replica (sequential-order dot is irrelevant here: scores are
    # rounded to 9 dp before every downstream use, same as the engine)
    ids = list(range(n))
    lab = {i: i % 3 // 2 for i in ids}
    A = [i for i in ids if i % 2 == 0]
    B = [i for i in ids if i % 2 == 1]
    v64 = vecs.astype(np.float64)
    s = {}
    for i in A:
        for j in B:
            if lab[i] != lab[j]:
                continue
            c = float(v64[i] @ v64[j] /
                      (np.linalg.norm(v64[i]) * np.linalg.norm(v64[j])))
            s[(i, j)] = round(c, 9)
    def avg_nn(side_id, is_a):
        cand = sorted(
            ((sc, other) for (ai, bj), sc in s.items()
             if (ai if is_a else bj) == side_id
             for other in [bj if is_a else ai]),
            key=lambda t: (-t[0], t[1]),
        )[:3]
        return sum(c for c, _ in cand) / len(cand)
    margins = {}
    for (i, j), sc in s.items():
        den = (avg_nn(i, True) + avg_nn(j, False)) / 2.0
        if den > 0:
            margins[(i, j)] = sc / den
    best_a = {}
    best_b = {}
    for (i, j), mg in margins.items():
        if i not in best_a or (-mg, j) < (-margins[(i, best_a[i])], best_a[i]):
            best_a[i] = j
        if j not in best_b or (-mg, i) < (-margins[(best_b[j], j)], best_b[j]):
            best_b[j] = i
    exp = {
        (i, j): (round(s[(i, j)], 6), round(mg, 6))
        for (i, j), mg in margins.items()
        if best_a.get(i) == j and best_b.get(j) == i
        and round(mg, 6) >= 1.0
    }
    assert got == exp and len(exp) > 0


# --- constant-query cosine and the folded query literal ----------------------

def _bits(x):
    import math
    import struct

    if x is None:
        return None
    return "nan" if math.isnan(x) else struct.pack(">d", x)


def test_search_matches_numpy_brute_force(spark):
    """EmbeddingEngine.search top-10 == an exact numpy cosine: products
    summed left to right in double, score rounded half-up to 6 decimals,
    ties broken by (doc_id, chunk_number).  The table plants exact
    copies of the query under several ids so the tie-break is exercised."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    from inception_spark import EmbeddingEngine

    eng = EmbeddingEngine(spark)
    q = np.asarray(eng.embed_query("separate but equal"), dtype=np.float32)
    rng = np.random.RandomState(11)
    emb = rng.standard_normal((40, q.size)).astype(np.float32)
    emb[:20] += 0.35 * q * np.sqrt(q.size)  # pull half the table near q
    emb[[5, 17, 33]] = q                    # three-way tie at score 1.0
    ids = [(i // 4, i % 4 + 1) for i in range(len(emb))]
    table = spark.createDataFrame(
        [(d, c, [float(x) for x in v]) for (d, c), v in zip(ids, emb)],
        "doc_id long, chunk_number int, embedding array<float>",
    )
    got = [
        (r["doc_id"], r["chunk_number"], r["score"], r["rank"])
        for r in eng.search("separate but equal", table, k=10).collect()
    ]

    a, qd = emb.astype(np.float64), q.astype(np.float64)
    cos = (np.cumsum(a * qd, axis=1)[:, -1]
           / (np.sqrt(np.cumsum(a * a, axis=1)[:, -1])
              * np.sqrt(np.cumsum(qd * qd)[-1])))

    def half_up(x):
        return float(Decimal(repr(float(x))).quantize(
            Decimal("1e-6"), ROUND_HALF_UP))

    ranked = sorted((-half_up(s), d, c) for (d, c), s in zip(ids, cos))
    want = [(d, c, -s, r + 1) for r, (s, d, c) in enumerate(ranked[:10])]
    assert sorted(got, key=lambda t: t[3]) == want
    assert [t[2] for t in want[:3]] == [1.0, 1.0, 1.0]


def test_cosine_to_query_bit_equal_to_cosine(spark):
    """_cosine_to_query returns the raw doubles of the generic
    cosine(F.col(c), <768-lit array>) for every row and query, edge
    cases included: zero-norm, NULL-element, NULL, short and long rows;
    zero, -0.0, subnormal, overflowing, nan, inf and empty queries."""
    import numpy as np
    from pyspark.sql import functions as F

    from inception_spark.functions.vectors import cosine
    from inception_spark.operators.similarity import _cosine_to_query

    rng = np.random.RandomState(5)
    long_row, long_q = (
        [float(x) for x in rng.standard_normal(768)] for _ in range(2)
    )
    rows = [
        [1.0, 2.0, 3.0, 4.0],
        [0.0, 0.0, 0.0, 0.0],
        [1.0, None, 3.0, -1.0],
        None,
        [0.5, -0.5],
        [1.0, 2.0, 3.0, 4.0, 5.0, 6.0],
        [],
        [-0.0, 1e-3, 7.25, 1e30],
        [0.1, -0.7, 0.3333333, 2.5e-8],
        long_row,
    ]
    df = spark.createDataFrame(
        [(i, r, r) for i, r in enumerate(rows)],
        "id int, v array<double>, f array<float>",
    )
    inf, nan = float("inf"), float("nan")
    queries = [
        [0.0, 0.0, 0.0, 0.0],
        [-0.0, 0.5, -1.25, 2.0],
        [5e-324, 1.0, 0.0, -3.0],
        [5e-324, 5e-324, 5e-324, 5e-324],
        [1e308, 1.0, 2.0, 3.0],
        [nan, 1.0, 0.0, 0.0],
        [inf, 0.0, 1.0, 0.0],
        [-inf, 0.25, 0.0, 0.0],
        [],
        [0.1, 0.2, 0.3, 0.4],
        long_q,
    ]
    for qv in queries:
        old_q = F.array(*[F.lit(float(x)) for x in qv])
        got = df.orderBy("id").select(
            *[
                e
                for c in ("v", "f")
                for e in (
                    cosine(F.col(c), old_q).alias(f"old_{c}"),
                    _cosine_to_query(c, qv).alias(f"new_{c}"),
                )
            ]
        ).collect()
        for r in got:
            for c in ("v", "f"):
                assert _bits(r[f"new_{c}"]) == _bits(r[f"old_{c}"]), (qv, c, r)


def test_query_vec_col_is_one_folded_literal(spark):
    """The query vector collects to exactly the doubles of the old
    per-element F.lit array, and the optimized plan holds it as a single
    Literal (no split/cast left to run per row)."""
    import numpy as np
    from pyspark.sql import functions as F

    from inception_spark.operators.similarity import _query_vec_col

    qv = [float(x) for x in np.random.RandomState(3).standard_normal(768)]
    qv[:4] = [-0.0, 5e-324, 1e308, -1e-310]
    out = spark.range(1).select(
        _query_vec_col(qv).alias("new"),
        F.array(*[F.lit(x) for x in qv]).alias("old"),
    )
    r = out.head()
    assert [_bits(x) for x in r["new"]] == [_bits(x) for x in r["old"]]
    assert [_bits(x) for x in r["new"]] == [_bits(x) for x in qv]
    proj = out._jdf.queryExecution().optimizedPlan()
    first = proj.projectList().head()
    assert first.name() == "new"
    assert first.child().getClass().getSimpleName() == "Literal"
    assert spark.range(1).select(
        _query_vec_col([]).alias("e")
    ).schema["e"].dataType.simpleString() == "array<double>"


# (name, type, nullable) per output field, captured from the operators
# before the constant-query rewrite on the frames built below
_SIMILARITY_SCHEMAS = {
    "semantic_search": [
        ("doc_id", "bigint", True), ("chunk_number", "int", True),
        ("score", "double", True), ("rank", "int", False),
    ],
    "cosine_topk": [
        ("vec_id", "bigint", True), ("score", "double", True),
        ("rank", "int", False),
    ],
    "sq_topk": [
        ("vec_id", "bigint", True), ("qdot", "bigint", True),
        ("rank", "int", False),
    ],
    "mmr_rerank": [
        ("rank", "bigint", False), ("vec_id", "bigint", True),
        ("rel_micro", "bigint", True),
    ],
    "binary_quantize_topk": [
        ("vec_id", "bigint", True), ("hamming", "bigint", True),
        ("score", "double", True), ("rank", "bigint", False),
    ],
}


def test_similarity_output_schemas_unchanged(spark):
    import numpy as np

    from inception_spark.operators import similarity as S

    rows = [
        (i, [float(x) for x in np.random.RandomState(i).standard_normal(4)])
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    chunks = spark.createDataFrame(
        [(i // 3, i % 3 + 1, v) for i, v in rows],
        "doc_id long, chunk_number int, embedding array<float>",
    )
    q = [0.5, -0.25, 1.0, 0.125]
    outs = {
        "semantic_search": S.semantic_search(chunks, q, k=3),
        "cosine_topk": S.cosine_topk(df, q, k=3),
        "sq_topk": S.sq_topk(df, q, k=3),
        "mmr_rerank": S.mmr_rerank(df, q, k=2, pool=4),
        "binary_quantize_topk": S.binary_quantize_topk(df, q, k=3),
    }
    got = {
        name: [
            (f.name, f.dataType.simpleString(), f.nullable)
            for f in out.schema
        ]
        for name, out in outs.items()
    }
    assert got == _SIMILARITY_SCHEMAS
