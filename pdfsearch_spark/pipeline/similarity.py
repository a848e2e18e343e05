"""Similarity search over an embedding column (array<float>).

- cosine_topk: brute-force cosine top-k — the correctness baseline. The dot
  product is a codegen zip_with/aggregate expression (JVM-side, no Python);
  the scan is embarrassingly parallel and the only shuffle is the final
  top-k (TakeOrderedAndProject).
- lsh_buckets / ann_topk_lsh: the scale path — random-hyperplane LSH. Plane
  vectors are deterministic (Philox seed, rounded literals) so the bucketing
  is reproducible across engines and runs; the query only scans its own
  bucket, turning top-k from O(N) into O(N / 2^planes) per probe.
- embedding_neardup_pairs: near-duplicate detection by cosine >= threshold,
  LSH-bucket-blocked so the self-join never goes all-pairs.
- ivf_assign / ann_topk_ivf: the second scale path — IVF (inverted-file)
  partitioning. Every vector is assigned to its nearest centroid's cell by a
  single codegen argmin expression (no shuffle); a query probes only its
  nprobe nearest cells, so the scan is O(N * nprobe / nlist) instead of O(N),
  and recall is tunable via nprobe (nprobe = nlist degrades gracefully to
  exact brute force). train_centroids_kmeans is the production training path
  (deterministic Lloyd iterations as DataFrame ops); the seeded centroids
  keep test/oracle runs engine-reproducible.

Scores are rounded to 6 dp so results are stable across engines' float
summation orders.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F

N_PLANES = 8
PLANE_SEED = 1234
DIM = 64

N_LIST = 16
NPROBE = 4
CENTROID_SEED = 5678


def lsh_planes(dim: int = DIM, n_planes: int = N_PLANES, seed: int = PLANE_SEED) -> list[list[float]]:
    """Deterministic hyperplanes, rounded to 3 dp so they can be embedded as
    SQL literals identically in any engine."""
    rng = np.random.Generator(np.random.Philox(key=[seed, 0]))
    return [
        [round(float(x), 3) for x in rng.standard_normal(dim)]
        for _ in range(n_planes)
    ]


def _dot_expr(vec_col: str, lit_vec: list[float]) -> str:
    arr = "array(" + ",".join(f"cast({v} as double)" for v in lit_vec) + ")"
    return (
        f"aggregate(zip_with({vec_col}, {arr}, (a, b) -> cast(a as double) * b), "
        f"0D, (acc, x) -> acc + x)"
    )


def _norm_expr(vec_col: str) -> str:
    return (
        f"sqrt(aggregate({vec_col}, 0D, (acc, x) -> acc + cast(x as double) * cast(x as double)))"
    )


def _cosine_expr(a: str, b: str) -> str:
    dot = f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), 0D, (acc, v) -> acc + v)"
    return f"{dot} / ({_norm_expr(a)} * {_norm_expr(b)})"


def bucket_expr(vec_col: str, planes: list[list[float]]) -> str:
    """LSH bucket id: bit i = 1 iff dot(plane_i, vec) > 0."""
    bits = " + ".join(
        f"(CASE WHEN {_dot_expr(vec_col, p)} > 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"({bits})"


def cosine_topk(
    emb: DataFrame, query_vecs: DataFrame, k: int = 10
) -> DataFrame:
    """Brute-force cosine top-k per query vector.

    query_vecs: (query_id, embedding) — broadcast (queries are few); result:
    (query_id, vec_id, score, rank), rank 1..k by (score desc, vec_id asc),
    self-match excluded when ids collide.
    """
    q = query_vecs.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    joined = emb.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != F.col("query_id"))
    scored = joined.select(
        "query_id",
        "vec_id",
        F.round(F.expr(_cosine_expr("embedding", "q_emb")), 6).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def with_buckets(emb: DataFrame, planes: list[list[float]] | None = None) -> DataFrame:
    planes = planes or lsh_planes()
    return emb.withColumn("bucket", F.expr(bucket_expr("embedding", planes)))


def ann_topk_lsh(
    emb: DataFrame, query_vecs: DataFrame, k: int = 10,
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """LSH-bucketed ANN: each query scans only its own hyperplane bucket.

    Approximate by construction (recall < 1 vs cosine_topk); at 10^12 vectors
    the bucketed scan is what makes per-query latency independent of corpus
    size. Same output shape as cosine_topk.
    """
    planes = planes or lsh_planes()
    b_emb = with_buckets(emb, planes)
    q = with_buckets(
        query_vecs.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
        ).withColumnRenamed("q_emb", "embedding"),
        planes,
    ).withColumnRenamed("embedding", "q_emb")
    joined = b_emb.join(F.broadcast(q), "bucket").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = joined.select(
        "query_id",
        "vec_id",
        F.round(F.expr(_cosine_expr("embedding", "q_emb")), 6).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivf_centroids(
    dim: int = DIM, nlist: int = N_LIST, seed: int = CENTROID_SEED
) -> list[list[float]]:
    """Deterministic seeded centroids, rounded to 3 dp so they embed as SQL
    literals identically in any engine (same trick as lsh_planes). Each is
    normalized to unit length BEFORE rounding — raw gaussian draws have norm
    ~sqrt(dim), which would let the ||c||^2 term dominate the argmin and
    collapse every vector into the smallest-norm centroid's cell. Production
    builds replace these with train_centroids_kmeans output — the assignment
    and probe machinery below is identical either way."""
    rng = np.random.Generator(np.random.Philox(key=[seed, 1]))
    out = []
    for _ in range(nlist):
        v = rng.standard_normal(dim)
        v = v / np.linalg.norm(v)
        out.append([round(float(x), 3) for x in v])
    return out


# distance arithmetic note (applies to _sub_dists_expr): the per-centroid
# argmin-equivalent squared-L2 distance is ||v - c||^2 = ||v||^2 - 2 v.c +
# ||c||^2, and ||v||^2 is constant across cells for a given row, so
# (||c||^2 - 2 v.c) ranks cells identically; ||c||^2 folds to a literal and
# each distance is rounded to 6 dp so the argmin is stable across engines'
# float summation.


def cell_expr(vec_col: str, centroids: list[list[float]]) -> str:
    """IVF cell id (0-based): index of the nearest centroid; first-min wins
    on ties in every engine (the fold keeps its accumulator on ties, which
    matches DuckDB's list_position-of-list_min). Centroids live in a folded
    nested literal (see _nested_lit) and the distance array is evaluated
    ONCE — the enumerated-subtree + array_position(d, array_min(d)) form
    this replaces put ~2 x nlist x dim nodes in the projection, blew the
    codegen method limit, and ran interpreted."""
    return f"({_argmin_expr(_sub_dists_expr(vec_col, centroids))})"


def ivf_assign(
    emb: DataFrame, centroids: list[list[float]] | None = None
) -> DataFrame:
    """Adds `cell` (int): nearest-centroid assignment. One codegen expression
    per row — no shuffle, no Python; at build time this is the partitioning
    key the posting-file layout would use (partitionBy("cell"))."""
    centroids = centroids or ivf_centroids()
    return emb.withColumn(
        "cell", F.expr(cell_expr("embedding", centroids)).cast("int")
    )


def probe_cells_expr(
    vec_col: str, centroids: list[list[float]], nprobe: int
) -> str:
    """Array of the nprobe nearest cell ids for a query vector: sort
    (dist, cell) structs — array_sort on structs orders by field position, so
    ties break on the smaller cell id — and slice the head. Same
    folded-literal distance array as cell_expr."""
    dists = _sub_dists_expr(vec_col, centroids)
    return (
        f"transform(slice(array_sort(transform({dists}, "
        f"(d, i) -> named_struct('d', d, 'cell', i))), 1, {nprobe}), "
        f"s -> s.cell)"
    )


def ann_topk_ivf(
    emb: DataFrame, query_vecs: DataFrame, k: int = 10,
    nprobe: int = NPROBE,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF ANN: each query scans only its nprobe nearest centroid cells.

    Corpus side is a shuffle-free codegen cell assignment (at scale the cells
    are a partitionBy("cell") parquet layout, so the probe join becomes
    partition pruning); query side explodes to nprobe rows and broadcasts.
    Same output shape as cosine_topk / ann_topk_lsh: (query_id, vec_id,
    score, rank), rank 1..k by (cosine desc, vec_id asc)."""
    centroids = centroids or ivf_centroids()
    c_emb = ivf_assign(emb, centroids)
    q = (
        query_vecs.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
        )
        .withColumn(
            "cell",
            F.explode(F.expr(probe_cells_expr("q_emb", centroids, nprobe))),
        )
    )
    joined = c_emb.join(F.broadcast(q), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = joined.select(
        "query_id",
        "vec_id",
        F.round(F.expr(_cosine_expr("embedding", "q_emb")), 6).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


M_SUB = 8
K_SUB = 16
PQ_SEED = 4321


def pq_codebooks(
    dim: int = DIM, m: int = M_SUB, ksub: int = K_SUB, seed: int = PQ_SEED
) -> list[list[list[float]]]:
    """Deterministic seeded PQ codebooks: codebooks[sub][code] is a
    (dim/m)-dim sub-centroid, rounded to 3 dp so it embeds as a SQL literal
    identically in any engine. Components are scaled 1/sqrt(dim) to match
    unit-norm embeddings' subvector scale (raw gaussians would put every
    subvector nearest the smallest-norm code — same failure mode
    ivf_centroids documents). Production builds train these with
    per-subspace Lloyd iterations (the train_centroids_kmeans pattern,
    applied to each slice); encode/score below are identical either way."""
    rng = np.random.Generator(np.random.Philox(key=[seed, 2]))
    dsub = dim // m
    scale = 1.0 / np.sqrt(dim)
    return [
        [
            [round(float(x) * scale, 3) for x in rng.standard_normal(dsub)]
            for _ in range(ksub)
        ]
        for _ in range(m)
    ]


def _nested_lit(arrs: list[list[float]]) -> str:
    """array<array<double>> literal. Constant-folded by Catalyst into ONE
    Literal node — this is load-bearing: enumerating ksub codes as separate
    expression subtrees (the cell_expr pattern) puts ~10^4 nodes in the
    projection, blows the codegen method limit, and drops the whole stage
    to interpreted eval (measured 7x slower); as folded array literals the
    tree is O(1) per subspace and the loop over codes is data-driven."""
    inner = ",".join(
        "array(" + ",".join(f"{v}D" for v in a) + ")" for a in arrs
    )
    return f"array({inner})"


def _sub_dists_expr(sub: str, book: list[list[float]]) -> str:
    """array<double> of rounded argmin-equivalent distances of subvector
    `sub` to every code in `book` — same arithmetic as _cell_dist_exprs
    (round(||c||^2 - 2 v.c, 6)), but looped over a folded nested literal."""
    books_lit = _nested_lit(book)
    c2s = "array(" + ",".join(
        f"{round(sum(v * v for v in cb), 6)}D" for cb in book
    ) + ")"
    return (
        f"zip_with({books_lit}, {c2s}, (cb, c2) -> "
        f"round(c2 - 2D * aggregate(zip_with({sub}, cb, "
        f"(a, b) -> cast(a as double) * b), 0D, (acc, x) -> acc + x), 6))"
    )


def _argmin_expr(dists: str) -> str:
    """0-based index of the first minimum — single evaluation of `dists`
    (array_position(d, array_min(d)) would evaluate it twice); the fold
    keeps the accumulator on ties, so first-min-wins like list_position."""
    return (
        f"aggregate(transform({dists}, (x, i) -> named_struct('d', x, 'i', i)), "
        f"named_struct('d', cast('Infinity' as double), 'i', -1), "
        f"(acc, s) -> if(s.d < acc.d, s, acc)).i"
    )


def pq_code_expr(vec_col: str, codebooks: list[list[list[float]]]) -> str:
    """array<int> of per-subspace nearest-code ids (0-based) — the same
    first-min-wins argmin semantics as cell_expr, applied to each slice."""
    dsub = len(codebooks[0][0])
    parts = [
        _argmin_expr(
            _sub_dists_expr(f"slice({vec_col}, {mi * dsub + 1}, {dsub})", book)
        )
        for mi, book in enumerate(codebooks)
    ]
    return "array(" + ",".join(parts) + ")"


def pq_encode(
    emb: DataFrame, codebooks: list[list[list[float]]] | None = None
) -> DataFrame:
    """Adds `code` (array<int>, one entry per subspace). This is the
    compression that makes 10^12-vector search feasible: at scale the
    corpus side persists (vec_id, cell, code) — m small ints (m log2(ksub)
    bits; 4 bytes here) instead of dim floats (256 bytes) — and the raw
    embedding column never enters the query path. Shuffle-free codegen."""
    codebooks = codebooks or pq_codebooks()
    return emb.withColumn("code", F.expr(pq_code_expr("embedding", codebooks)))


def pq_lut_expr(qvec_col: str, codebooks: list[list[list[float]]]) -> str:
    """Flat m*ksub lookup table for one query vector: lut[mi*ksub + j] =
    dot(query subvector mi, codebooks[mi][j]), each rounded to 6 dp so the
    downstream sum is bit-identical across engines. Same folded-literal
    layout as pq_code_expr (flatten is mi-major, matching the ADC index)."""
    dsub = len(codebooks[0][0])
    per_sub = []
    for mi, book in enumerate(codebooks):
        sub = f"slice({qvec_col}, {mi * dsub + 1}, {dsub})"
        per_sub.append(
            f"transform({_nested_lit(book)}, cb -> "
            f"round(aggregate(zip_with({sub}, cb, "
            f"(a, b) -> cast(a as double) * b), 0D, (acc, x) -> acc + x), 6))"
        )
    return "flatten(array(" + ",".join(per_sub) + "))"


def _adc_expr(code_col: str, lut_col: str, ksub: int) -> str:
    """Asymmetric distance computation: approx dot(query, vec) =
    sum_mi lut[mi*ksub + code[mi]] — ksub table lookups and m adds per
    candidate, never a dim-wide multiply."""
    return (
        f"round(aggregate(transform({code_col}, (c, mi) -> "
        f"element_at({lut_col}, cast(mi * {ksub} + c + 1 as int))), 0D, "
        f"(acc, x) -> acc + x), 6)"
    )


def ann_topk_ivfpq(
    emb: DataFrame, query_vecs: DataFrame, k: int = 10,
    nprobe: int = NPROBE,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """IVF-PQ ANN (the FAISS IVFPQ layout as DataFrame ops): the corpus is
    pruned to the query's nprobe nearest IVF cells AND each candidate is
    scored from its PQ code via the query's lookup table — so the scan
    touches (nprobe/nlist of the corpus) x (m ints per vector), not raw
    embeddings. Scores are the ADC approximation of the dot product;
    approximate by construction (rank-identical to exact only in the
    no-quantization-error limit). Output shape matches the other ANN ops:
    (query_id, vec_id, score, rank)."""
    centroids = centroids or ivf_centroids()
    codebooks = codebooks or pq_codebooks()
    ksub = len(codebooks[0])
    c_emb = pq_encode(ivf_assign(emb, centroids), codebooks).select(
        "vec_id", "cell", "code"
    )
    q = (
        query_vecs.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
        )
        .withColumn("lut", F.expr(pq_lut_expr("q_emb", codebooks)))
        .withColumn(
            "cell",
            F.explode(F.expr(probe_cells_expr("q_emb", centroids, nprobe))),
        )
        .select("query_id", "cell", "lut")
    )
    joined = c_emb.join(F.broadcast(q), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = joined.select(
        "query_id",
        "vec_id",
        F.expr(_adc_expr("code", "lut", ksub)).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def train_centroids_kmeans(
    emb: DataFrame, nlist: int = N_LIST, n_iter: int = 5,
    seed: int = CENTROID_SEED,
) -> list[list[float]]:
    """Deterministic Lloyd's k-means over the embedding column — the
    production IVF training path.

    Init picks nlist rows by md5(vec_id) order (data-dependent but partition-
    count-invariant); each iteration assigns cells with the codegen argmin
    expression and recomputes means via posexplode + groupBy(cell, pos) —
    both distributed, with only nlist*dim doubles ever reaching the driver
    per iteration. Centroids are rounded to 3 dp each iteration so the fitted
    result is bit-reproducible across cluster layouts. At 10^12 vectors you
    train on a sampled fraction (emb.sample) — Lloyd needs only a
    representative sample, not the corpus."""
    first = (
        emb.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(nlist)
        .collect()
    )
    centroids = [
        [round(float(x), 3) for x in r["embedding"]] for r in first
    ]
    for _ in range(n_iter):
        assigned = ivf_assign(emb, centroids)
        means = (
            assigned.select("cell", F.posexplode("embedding").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .collect()
        )
        new = [list(c) for c in centroids]  # empty cells keep their centroid
        by_cell: dict[int, dict[int, float]] = {}
        for r in means:
            by_cell.setdefault(r["cell"], {})[r["pos"]] = r["m"]
        for cell, dims in by_cell.items():
            new[cell] = [round(dims[p], 3) for p in range(len(dims))]
        if new == centroids:
            break
        centroids = new
    return centroids


def _pq_sub_rows(emb: DataFrame, m: int, dsub: int) -> DataFrame:
    """(vec_id, mi, sub): one row per (vector, subspace) — a single codegen
    transform + posexplode, no raw-string work."""
    arr = (
        f"transform(sequence(0, {m - 1}), "
        f"mi -> slice(embedding, mi * {dsub} + 1, {dsub}))"
    )
    return emb.select("vec_id", F.posexplode(F.expr(arr)).alias("mi", "sub"))


def _pq_assign_expr(books: list[list[list[float]]]) -> str:
    """Per-subspace code for a (mi, sub) row: CASE over mi dispatching to
    that subspace's argmin — one expression, still whole-stage codegen."""
    branches = " ".join(
        f"WHEN mi = {mi} THEN {cell_expr('sub', book)}"
        for mi, book in enumerate(books)
    )
    return f"CASE {branches} END"


def train_pq_codebooks(
    emb: DataFrame, m: int = M_SUB, ksub: int = K_SUB, n_iter: int = 5,
) -> list[list[list[float]]]:
    """Deterministic per-subspace Lloyd's k-means — the production PQ
    training path (same contract as train_centroids_kmeans: init by
    md5(vec_id) order so it's partition-count-invariant; 3-dp rounding per
    iteration so the fit is bit-reproducible; train on emb.sample(...) at
    corpus scale). All m subspaces train in ONE job per iteration: the
    (vec_id, mi, sub) explosion assigns every subspace with a single CASE
    argmin expression and the means groupBy(mi, code, pos) returns just
    m * ksub * dsub doubles to the driver."""
    first = (
        emb.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(ksub)
        .collect()
    )
    dim = len(first[0]["embedding"])
    dsub = dim // m
    books = [
        [
            [
                round(float(r["embedding"][mi * dsub + p]), 3)
                for p in range(dsub)
            ]
            for r in first
        ]
        for mi in range(m)
    ]
    rows = _pq_sub_rows(emb, m, dsub)
    for _ in range(n_iter):
        assigned = rows.withColumn(
            "code", F.expr(_pq_assign_expr(books)).cast("int")
        )
        means = (
            assigned.select(
                "mi", "code", F.posexplode("sub").alias("pos", "x")
            )
            .groupBy("mi", "code", "pos")
            .agg(F.avg(F.col("x").cast("double")).alias("mval"))
            .collect()
        )
        new = [[list(c) for c in book] for book in books]
        got: dict[tuple[int, int], dict[int, float]] = {}
        for r in means:
            got.setdefault((r["mi"], r["code"]), {})[r["pos"]] = r["mval"]
        for (mi, code), dims in got.items():
            new[mi][code] = [round(dims[p], 3) for p in range(len(dims))]
        if new == books:
            break
        books = new
    return books


def pq_inertia(emb: DataFrame, codebooks: list[list[list[float]]]) -> float:
    """Mean argmin-equivalent distance over all (row, subspace) pairs —
    monotone in true per-subspace quantization error for fixed data; used
    to test that PQ training improves the codebooks."""
    dsub = len(codebooks[0][0])
    rows = _pq_sub_rows(emb, len(codebooks), dsub)
    branches = " ".join(
        f"WHEN mi = {mi} THEN array_min({_sub_dists_expr('sub', book)})"
        for mi, book in enumerate(codebooks)
    )
    return float(
        rows.select(F.expr(f"CASE {branches} END").alias("d"))
        .agg(F.avg("d"))
        .first()[0]
    )


def ivf_inertia(emb: DataFrame, centroids: list[list[float]]) -> float:
    """Mean argmin-equivalent distance (||c||^2 - 2 v.c) over the corpus —
    monotone in true k-means inertia for fixed data; used to test that
    training improves the partition."""
    dists = _sub_dists_expr("embedding", centroids)
    return float(
        emb.select(F.expr(f"array_min({dists})").alias("d"))
        .agg(F.avg("d"))
        .first()[0]
    )


def embedding_neardup_pairs(
    emb: DataFrame, threshold: float = 0.95,
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """(vec_a, vec_b, score): pairs with cosine >= threshold, blocked by LSH
    bucket (near-identical vectors land in the same bucket with high prob)."""
    planes = planes or lsh_planes()
    b = with_buckets(emb, planes)
    l, r = b.alias("l"), b.alias("r")
    return (
        l.join(r, "bucket")
        .filter(F.col("l.vec_id") < F.col("r.vec_id"))
        .select(
            F.col("l.vec_id").alias("vec_a"),
            F.col("r.vec_id").alias("vec_b"),
            F.round(
                F.expr(_cosine_expr("l.embedding", "r.embedding")), 6
            ).alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )
